"""Time individual suite entries with bench.py's exact methodology
(untimed warmup -> timed plan-construction + noop-sink execution).

Beside each run's time it prints the Spark jobs the run started and the
generated classes it compiled (misses of Spark's codegen cache), read
from Spark's status store and codegen metrics.

Usage: python tools/time_query.py [--sf-dir DIR] [--runs N] name [name ...]
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_dbt_finance_warehouse_spark.session import engine_counters, get_spark
from duckdb_dbt_finance_warehouse_spark.state import release_persisted
from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()

    spark = get_spark("time_query")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for name in args.names:
        spec = REGISTRY[name]
        spec.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        for r in range(args.runs):
            jobs0, compiled0 = engine_counters(spark)
            t0 = time.time()
            df = spec.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            jobs1, compiled1 = engine_counters(spark)
            print(
                f"{name} run{r + 1}: {dt:.3f}s  jobs={jobs1 - jobs0}"
                f"  compiled={compiled1 - compiled0}",
                flush=True,
            )
        release_persisted()
        df = None
        gc.collect()
    spark.stop()


if __name__ == "__main__":
    main()
