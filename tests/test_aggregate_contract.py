"""Each mergeable aggregate is written once, as a keyed kernel.

The whole-table HLL, histogram, count-min and fingerprint forms are
their keyed kernels called with no key, each oracle SQL form is one
function with an optional key, and the bucket-offset fold of the
two-pass prefix form exists once per shape. A second copy of any rule
can drift from the DuckDB oracle on its own, so the source scan below
fails if one reappears outside its owner. The other tests pin edge
cases the shared kernels now answer the same way in both engines: an
empty or all-null input, and sketch parameters rejected before any
job runs.
"""

from __future__ import annotations

import ast
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_dbt_finance_warehouse_spark.operators import sketch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "duckdb_dbt_finance_warehouse_spark")

# source text of one rule -> the (module, top-level function) pairs
# allowed to contain it, each exactly once
OWNERS = {
    # HLL rank of the 52 hash bits above the bucket byte
    "bin(_rest)": [("sketch.py", "_registers")],
    "length(bin(h >>": [("sketch.py", "_hll_sql")],
    # HLL indicator sum of the harmonic mean
    "shiftleft(CAST(1 AS BIGINT)": [("sketch.py", "_estimate")],
    "<< ({MAX_RANK} - max_rank)": [("sketch.py", "_hll_sql")],
    # histogram cumulative fold and its oracle's first-bin pick
    "aggregate(cells,": [("sketch.py", "_quantiles")],
    "WHEN c.cum >= qs.q *": [("sketch.py", "quantile_oracle_sql")],
    # count-min (row, bucket) cell struct, and the oracle's bucket
    # (mod CMS_W) of its cells and probes
    "range(CMS_D)": [("sketch.py", "_cms_cells")],
    "CMS_W}": [("sketch.py", "cms_bucket_sql")],
    # fingerprint md5 words
    "F.substring(h, 9, 8)": [("maintenance.py", "_fingerprint")],
    # exclusive bucket offsets of the two-pass prefix form
    "aggregate(slice(_ts, 1, i)": [
        ("graph.py", "_bucket_ranks"),
        ("stats.py", "ordered_prefix_sums"),
    ],
}


def _occurrences() -> dict[str, list[tuple[str, str]]]:
    found: dict[str, list[tuple[str, str]]] = {rule: [] for rule in OWNERS}
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                text = fh.read()
            lines = text.splitlines()
            spans = [
                (top.lineno, top.end_lineno, top.name)
                for top in ast.parse(text, path).body
                if isinstance(top, (ast.FunctionDef, ast.ClassDef))
            ]
            for rule in OWNERS:
                for i, line in enumerate(lines, 1):
                    for _ in range(line.count(rule)):
                        owner = next((n for a, b, n in spans if a <= i <= b), "<module>")
                        found[rule].append((name, owner))
    return found


def test_each_mergeable_aggregate_is_written_once():
    found = _occurrences()
    wrong = {
        rule: sorted(found[rule])
        for rule in OWNERS
        if sorted(found[rule]) != sorted(OWNERS[rule])
    }
    assert not wrong, "call the shared keyed kernel instead: " + repr(wrong)


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE empty_t (g VARCHAR, x DOUBLE)")
    c.execute(
        "CREATE TABLE nulls_t AS SELECT * FROM (VALUES"
        " ('a', CAST(NULL AS DOUBLE)), ('b', 1.0), ('b', 3.0)) v(g, x)"
    )
    yield c
    c.close()


def _frames(spark):
    schema = "g string, x double"
    empty = spark.createDataFrame([], schema)
    nulls = spark.createDataFrame([("a", None), ("b", 1.0), ("b", 3.0)], schema)
    return empty, nulls


def test_hll_estimate_of_an_empty_column_is_zero(spark, con):
    """No registers: the indicator sum is 0, not NULL, so the
    linear-counting branch gives m * ln(m / m) = 0 in both engines."""
    empty, nulls = _frames(spark)
    for df, table in ((empty, "empty_t"), (nulls.filter("g = 'a'"), "nulls_t WHERE g = 'a'")):
        r = sketch.hll_distinct(df, "x").first()
        assert (r["hll_estimate"], r["buckets_used"]) == (0.0, 0)
        oracle = con.execute(sketch.hll_oracle_sql(f"(SELECT * FROM {table})", "x")).fetchall()
        assert oracle == [("x", 0.0, 0)]


def test_hll_merged_estimate_of_an_empty_frame_is_zero(spark, con):
    """The 'merged' row is the no-key estimate of the merged registers,
    so an empty frame still has it — as hll_distinct still gives 0.0 —
    in both engines."""
    empty, _ = _frames(spark)
    rows = [tuple(r) for r in sketch.hll_incremental_estimate(empty, "x", "g").collect()]
    assert rows == [("merged", 0.0, 0)]
    oracle = con.execute(sketch.hll_incremental_oracle_sql("empty_t", "x", "g")).fetchall()
    assert oracle == [("merged", 0.0, 0)]


def test_quantiles_of_an_empty_column_are_no_rows(spark, con):
    """A sketch with no cells has no quantile rows — the whole-table
    form used to fail at collect on an empty cell array — and a group
    whose values are all null has none either, in both engines."""
    empty, nulls = _frames(spark)
    qs = [0.5, 0.9]
    assert sketch.histogram_quantiles(sketch.histogram_sketch(empty, "x", 1.0), 1.0, qs).count() == 0
    only_null = nulls.filter("g = 'a'")
    assert sketch.histogram_quantiles(sketch.histogram_sketch(only_null, "x", 1.0), 1.0, qs).count() == 0
    assert con.execute(sketch.quantile_oracle_sql("empty_t", "x", 1.0, qs)).fetchall() == []
    assert (
        con.execute(
            sketch.quantile_oracle_sql("(SELECT * FROM nulls_t WHERE g = 'a')", "x", 1.0, qs)
        ).fetchall()
        == []
    )
    spark_rows = sorted(
        tuple(r) for r in sketch.group_quantiles(nulls, "g", "x", 1.0, qs).collect()
    )
    oracle_rows = sorted(
        con.execute(sketch.quantile_oracle_sql("nulls_t", "x", 1.0, qs, key="g")).fetchall()
    )
    assert [r[0] for r in spark_rows] == ["b", "b"]
    assert spark_rows == oracle_rows


@pytest.mark.parametrize(
    "width, q", [(0.0, 0.5), (-1.0, 0.5), (1.0, 1.5), (1.0, -0.1), (float("nan"), 0.5)]
)
def test_bad_sketch_parameters_raise_before_any_job(spark, width, q):
    """width <= 0 divided by zero at collect (0) or gave a silent wrong
    median (-1); q outside [0, 1] failed at collect (1.5) or returned a
    silent -1.0 (-0.1). All are rejected when the plan is built."""
    sc = spark.sparkContext
    df = spark.range(10).select(F.lit("g").alias("g"), F.col("id").cast("double").alias("x"))
    good = sketch.histogram_sketch(df, "x", 1.0)
    sc.setJobGroup("bad-sketch-params", "sketch parameters rejected at build time")
    try:
        calls = [lambda: sketch.group_quantiles(df, "g", "x", width, [q])]
        if q == 0.5:
            calls.append(lambda: sketch.histogram_sketch(df, "x", width))
        calls.append(lambda: sketch.histogram_quantiles(good, width, [q]))
        for call in calls:
            with pytest.raises(ValueError):
                call()
        assert list(sc.statusTracker().getJobIdsForGroup("bad-sketch-params")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
