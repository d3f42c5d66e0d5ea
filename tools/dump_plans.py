"""Dump `.explain("formatted")` for suite entries or pipeline models.

Usage:
    python tools/dump_plans.py --out DIR [--suffix _after] [--sf-dir DIR] [name ...]
    python tools/dump_plans.py --out DIR [--suffix _after] --warehouse WH [model ...]
    python tools/dump_plans.py --out DIR [--suffix _after] --warehouse WH --tests

Writes <out>/<name><suffix>.txt per query — the evidence for plan-shape
claims. With no names, every registry entry is dumped, in registry order.
With ``--warehouse`` each name is a pipeline model (default: all of them,
in build order) and the plan dumped is ``m.fn(ctx)`` over that
warehouse's current state, exactly what the next ``runner.py build``
would materialize: incremental models see their existing targets. Run
the same command from a checkout of the old commit with
``--suffix _before`` to capture the pre-change plans. ``--tests`` dumps
the 48 declared-test frames over that warehouse instead, one file per
test name (non-alphanumerics folded to ``_``).

Plans are written with their run-specific numbers folded — expression
ids (``#123`` -> ``#N``), ``[plan_id=N]``, RDD ids and the numeric
suffix of a lambda variable (``lambda x_12`` -> ``lambda x``) — so a
``_before``/``_after`` pair compares with plain ``diff``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_dbt_finance_warehouse_spark.session import get_spark
from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY


def _plans(spark, args):
    """Yield (name, DataFrame) for every requested suite entry or model."""
    if args.warehouse is None:
        for name in args.names or REGISTRY:
            spec = REGISTRY.get(name)
            if spec is None:
                print(f"SKIP {name}: not in registry", flush=True)
                continue
            yield name, spec.fn(spark, args.sf_dir)
        return
    from duckdb_dbt_finance_warehouse_spark.models import build_pipeline
    from duckdb_dbt_finance_warehouse_spark.plans.registry import Context
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    wh = Warehouse(spark, args.warehouse)
    if args.tests:
        from duckdb_dbt_finance_warehouse_spark.plans.testing import declared_reference_tests

        for name, df in declared_reference_tests(wh).items():
            yield re.sub(r"[^A-Za-z0-9_.]+", "_", name).strip("_"), df
        return
    pipe = build_pipeline()
    ctx = Context(spark, wh, pipe)
    for name in args.names or pipe.topo_order():
        if name not in pipe.models:
            print(f"SKIP {name}: not a pipeline model", flush=True)
            continue
        yield name, pipe.models[name].fn(ctx)


_FOLDS = [
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1#"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def fold(plan: str) -> str:
    """``plan`` with the numbers that differ between runs folded."""
    for pattern, repl in _FOLDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="_after")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    ap.add_argument("--warehouse", default=None, help="dump pipeline models over this root")
    ap.add_argument("--tests", action="store_true", help="with --warehouse: the declared tests")
    args = ap.parse_args()
    if args.tests and (args.warehouse is None or args.names):
        ap.error("--tests takes --warehouse and no names")

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    for name, df in _plans(spark, args):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = fold(buf.getvalue())
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange (')} exchanges)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
