"""Regression pins for the r10 model/plan-layer review findings: edge
semantics the scenario fixtures never exercised — NULL natural keys,
full-refresh on a session set to dynamic partition-overwrite,
multi-version first months, nullable diff hashes, and the
reference-exact EOM invariant."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from duckdb_dbt_finance_warehouse_spark.plans.snapshot import scd2_merge, snapshot_diff
from duckdb_dbt_finance_warehouse_spark.plans.testing import eom_boundary

TS = "ts_a string, record_hash string"


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "k string, record_hash string, ingested_at timestamp"
    )


def test_scd2_merge_raises_on_null_key(spark):
    """A NULL natural key matches nothing in the full-outer merge, so it
    used to be silently DROPPED from the merged state (incoming) or
    silently lost (stored) — the merge must refuse loudly instead."""
    t = datetime.datetime(2024, 1, 1)
    good = _rows(spark, [("a", "h1", t)])
    bad = _rows(spark, [(None, "h2", t)])
    with pytest.raises(ValueError, match="NULL k"):
        scd2_merge(None, bad, unique_key="k")
    state = scd2_merge(None, good, unique_key="k")
    with pytest.raises(ValueError, match="NULL k"):
        scd2_merge(state, good.unionByName(bad), unique_key="k")


def test_scd2_merge_raises_on_stored_open_null_key(spark):
    """The guard aggregate also reads the stored side: an open row with
    a NULL key in the stored state (written before the guard existed)
    stops the merge, while a closed one is history and does not."""
    t0, t1 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1)
    stored = spark.createDataFrame(
        [("a", "h1", t0, t0, None), (None, "h0", t0, t0, t1)],
        "k string, record_hash string, ingested_at timestamp, "
        "dbt_valid_from timestamp, dbt_valid_to timestamp",
    )
    good = _rows(spark, [("a", "h1", t1)])
    assert scd2_merge(stored, good, unique_key="k").count() == 2
    reopened = stored.withColumn("dbt_valid_to", F.lit(None).cast("timestamp"))
    with pytest.raises(ValueError, match="stored snapshot contains open row"):
        scd2_merge(reopened, good, unique_key="k")


def test_snapshot_diff_classifies_nullable_hashes(spark):
    """Presence must come from side flags, not hash NULLness: a key in
    BOTH states with a NULL hash on one side is 'changed' (null-safe
    compare), never 'added'/'removed', and NULL-vs-NULL is unchanged."""
    old = spark.createDataFrame(
        [("both_null", None), ("old_null", None), ("gone", "h"), ("same", "h")],
        "k string, record_hash string",
    )
    new = spark.createDataFrame(
        [("both_null", None), ("old_null", "h2"), ("fresh", "h"), ("same", "h")],
        "k string, record_hash string",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {"old_null": "changed", "gone": "removed", "fresh": "added"}


def test_full_refresh_replaces_stale_partitions(spark, tmp_path_factory):
    """A partitioned full rebuild must not leave partitions absent from
    the recomputed frame alive on disk, whatever the session's
    partitionOverwriteMode: ``overwrite`` is the staged swap, which
    replaces the whole table even on a session set to DYNAMIC."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    key = "spark.sql.sources.partitionOverwriteMode"
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    df2 = spark.createDataFrame([("2024-01-01", 1), ("2024-02-01", 2)], "m string, v int")
    wh.write(df2, "marts", "t", mode="overwrite", partition_by=["m"])
    df1 = spark.createDataFrame([("2024-01-01", 9)], "m string, v int")
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        wh.write(df1, "marts", "t", mode="overwrite", partition_by=["m"])
    finally:
        spark.conf.set(key, prev)
    got = wh.read("marts", "t").collect()
    assert len(got) == 1 and got[0]["v"] == 9  # the Feb partition is GONE


def test_unknown_write_mode_raises(spark, tmp_path_factory):
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    with pytest.raises(ValueError, match="unknown write mode 'upsert'"):
        wh.write(spark.range(1), "marts", "t", mode="upsert")
    assert not wh.exists("marts", "t")


def test_delete_insert_without_partition_key_raises(spark, tmp_path_factory):
    """incremental_delete_insert is a partition overwrite; a model
    declaring it without ``partition_by`` is rejected before its
    function runs, and so is a materialization no policy knows."""
    from duckdb_dbt_finance_warehouse_spark.plans.materialize import materialize
    from duckdb_dbt_finance_warehouse_spark.plans.registry import Context, Model, Pipeline
    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    def never(ctx):
        raise AssertionError("model function ran")

    keyed = Model("keyed", "mart", never, (), "incremental_delete_insert", unique_key=("id",))
    odd = Model("odd", "mart", never, (), "incremental_merge")
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    pipeline = Pipeline()
    pipeline.register(keyed)
    pipeline.register(odd)
    with pytest.raises(ValueError, match="keyed: incremental_delete_insert needs partition_by"):
        materialize(Context(spark, wh, pipeline), keyed)
    with pytest.raises(ValueError, match="unknown materialization incremental_merge"):
        materialize(Context(spark, wh, pipeline), odd)
    assert wh.tables() == []


def test_scd2_month_dim_backdates_only_earliest_version(spark):
    """Two versions opening inside the entity's FIRST month: only the
    earliest may cover pre-history months (the reference backdates both
    — its own grain-unique test fails on that input; documented A2
    deviation)."""
    from duckdb_dbt_finance_warehouse_spark.models.facts import _scd2_month_dim

    dim = spark.createDataFrame(
        [
            ("s1", "k1", datetime.datetime(2024, 3, 5), datetime.datetime(2024, 3, 20)),
            ("s1", "k2", datetime.datetime(2024, 3, 20), None),
        ],
        "subscription_id string, subscription_key string, "
        "valid_from timestamp, valid_to timestamp",
    )
    d = {
        r["subscription_key"]: r["effective_valid_from_month"]
        for r in _scd2_month_dim(dim, "subscription_id", "subscription_key").collect()
    }
    assert d["k1"] == datetime.date(1900, 1, 1)
    assert d["k2"] == datetime.date(2024, 3, 1)
    # a pre-history month (Jan) now matches exactly ONE version
    jan = datetime.date(2024, 1, 1)
    rows = _scd2_month_dim(dim, "subscription_id", "subscription_key").filter(
        (F.lit(jan) >= F.col("effective_valid_from_month"))
        & (
            F.col("valid_to_month").isNull()
            | (F.lit(jan) < F.col("valid_to_month"))
        )
    ).collect()
    assert len(rows) == 1 and rows[0]["subscription_key"] == "k1"


def test_eom_boundary_flags_post_end_months(spark):
    """The reference invariant flags ANY month row where the sub ended
    before that month's last day and MRR != 0 — including months
    entirely AFTER the end date (the old port's trunc conjunct silently
    passed those) and NULL-as-0 / negative MRR via coalesce + <> 0."""
    rows = spark.createDataFrame(
        [
            # ended Jan 15, nonzero in FEBRUARY -> must be flagged
            ("s1", datetime.date(2024, 2, 1), datetime.date(2024, 1, 15), 10.0),
            # ended Jan 15, zero in February -> fine
            ("s2", datetime.date(2024, 2, 1), datetime.date(2024, 1, 15), 0.0),
            # ends on month's last day -> active through EOM, fine
            ("s3", datetime.date(2024, 1, 1), datetime.date(2024, 1, 31), 10.0),
            # negative residual also counts as nonzero
            ("s4", datetime.date(2024, 2, 1), datetime.date(2024, 1, 15), -1.0),
        ],
        "subscription_id string, month_start_date date, "
        "subscription_end_date date, mrr_amount double",
    )
    got = {r["subscription_id"] for r in eom_boundary(rows).collect()}
    assert got == {"s1", "s4"}
