"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.01 (or --sf-dir), runs the paired
``oracle_sql()`` through DuckDB on the same parquet, and compares:
row count, column names, and order-insensitive canonicalized values.

Usage: python tools/check_correctness.py [--only name1,name2] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from duckdb_dbt_finance_warehouse_spark.session import get_spark
from duckdb_dbt_finance_warehouse_spark.sources.tables import TESTDATA_TABLES
from duckdb_dbt_finance_warehouse_spark.state import release_persisted
from duckdb_dbt_finance_warehouse_spark.suite.parity import compare


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    # per-process spill dir — the CWD-relative default collides across
    # concurrent DuckDB processes (see tools/bench_duckdb.py)
    con.execute(f"SET temp_directory='/tmp/duckdb_spill_{os.getpid()}'")
    for t in TESTDATA_TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written layout (make_sf1): directory of part files
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    # per-sf oracles (scale-dependent tuning literals, e.g. LSH planes)
    # instantiate for the target sf; at the driver's sf0.01 they equal
    # what the driver's oracle_sql() sees
    from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY

    oracles = {
        _n: _spec.resolved_oracle(args.sf_dir)
        for _n, _spec in REGISTRY.items()
        if _spec.has_oracle
    }
    names = args.only.split(",") if args.only else list(qs)

    n_pass = n_fail = n_noracle = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            release_persisted()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_noracle += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue

        problems = compare(srows, scols, drows, dcols)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
