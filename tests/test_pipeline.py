"""End-to-end finance-pipeline tests on the deterministic 3-batch
scenario (FIXTURES.md §6): full build, incremental builds, SCD2 merge
branches, movement classification, and the reference's three singular
invariants after every batch.

Tests share one warehouse and run in definition order (b1 -> b2 -> b3).
"""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest

from duckdb_dbt_finance_warehouse_spark.models import build_pipeline
from duckdb_dbt_finance_warehouse_spark.plans import testing as tst
from duckdb_dbt_finance_warehouse_spark.session import engine_counters
from duckdb_dbt_finance_warehouse_spark.sources.csv import ingest_csv
from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

from .fixtures import BATCHES, write_batch

VARS = {"dim_date_start_date": "2024-01-01", "dim_date_end_date": "2024-07-01"}


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    return Warehouse(spark, root)


def ingest_batch(wh: Warehouse, tmpdir: str, batch: str) -> None:
    d = write_batch(tmpdir, batch)
    ts = datetime.strptime(BATCHES[batch]["ts"], "%Y-%m-%d %H:%M:%S")
    for csv in sorted(os.listdir(d)):
        table = csv[:-4]
        ingest_csv(wh, os.path.join(d, csv), table, mode="append", batch_ts=ts)


def run_invariants(wh: Warehouse) -> None:
    fsm = wh.read("mart", "fct_subscription_month")
    fam = wh.read("mart", "fct_account_month")
    mart = wh.read("mart", "mart_mrr_waterfall_month")
    assert tst.unique_combination(fsm, ["subscription_id", "month_start_date"]).count() == 0
    assert tst.unique_combination(fam, ["account_id", "month_start_date"]).count() == 0
    assert tst.waterfall_ties_out(mart).count() == 0
    assert tst.account_ties_subscription(fam, fsm).count() == 0
    assert tst.eom_boundary(fsm).count() == 0


def mrr_by_month(df, account_id):
    rows = df.filter(df.account_id == account_id).collect()
    return {r["month_start_date"]: (r["mrr_end_mrr"], r["movement_type"]) for r in rows}


def test_b1_full_build(spark, wh, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("csv"))
    ingest_batch(wh, tmpdir, "b1")
    build_pipeline().run(spark, wh, variables=VARS, full_refresh=True)

    # staging contract: negatives nulled, raw kept, lowercase, is_closed
    tix = {r["ticket_id"]: r for r in wh.read("stg", "stg_support_tickets").collect()}
    assert tix["T2"]["resolution_time_hours"] is None
    assert tix["T2"]["resolution_time_hours_raw"] == -5.0
    assert tix["T2"]["is_closed"] is False
    assert tix["T1"]["priority"] == "high"
    assert tix["T2"]["satisfaction_score"] is None

    # dim_date: end-exclusive spine 2024-01-01..2024-06-30
    dd = wh.read("mart", "dim_date")
    assert dd.count() == 182
    assert dd.agg({"date_day": "max"}).first()[0] == date(2024, 6, 30)

    fsm = wh.read("mart", "fct_subscription_month")
    # SUB1 6 + SUB2 2 + SUB3 6 + SUB5 1
    assert fsm.count() == 15
    sub2 = {r["month_start_date"]: r for r in fsm.filter("subscription_id = 'SUB2'").collect()}
    assert set(sub2) == {date(2024, 1, 1), date(2024, 2, 1)}
    # end_date exactly at EOM -> still active & paid that month
    assert sub2[date(2024, 2, 1)]["mrr_amount"] == 50.0
    assert sub2[date(2024, 2, 1)]["is_end_month"] is True
    # SUB5 ends before Feb EOM -> present but 0 MRR
    sub5 = fsm.filter("subscription_id = 'SUB5'").collect()
    assert len(sub5) == 1 and sub5[0]["mrr_amount"] == 0.0
    # trials emit rows with 0 MRR, not absent rows
    assert fsm.filter("subscription_id = 'SUB3'").count() == 6
    assert fsm.filter("subscription_id = 'SUB3'").agg({"mrr_amount": "sum"}).first()[0] == 0.0

    fam = wh.read("mart", "fct_account_month")
    acc1 = mrr_by_month(fam, "ACC1")
    assert acc1[date(2024, 1, 1)] == (100.0, "new")
    assert acc1[date(2024, 2, 1)] == (100.0, "no_change")
    acc2 = mrr_by_month(fam, "ACC2")
    assert acc2[date(2024, 1, 1)] == (50.0, "new")
    assert acc2[date(2024, 3, 1)] == (0.0, "churn")
    acc3 = mrr_by_month(fam, "ACC3")
    assert all(v == (0.0, "zero") for v in acc3.values())

    mart = {r["month_start_date"]: r for r in wh.read("mart", "mart_mrr_waterfall_month").collect()}
    jan = mart[date(2024, 1, 1)]
    assert jan["new_mrr"] == 150.0 and jan["new_accounts"] == 2 and jan["active_accounts"] == 2
    mar = mart[date(2024, 3, 1)]
    assert mar["churn_mrr"] == 50.0 and mar["churned_accounts"] == 1

    run_invariants(wh)


def test_b2_incremental_scd2(spark, wh, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("csv"))
    ingest_batch(wh, tmpdir, "b2")
    build_pipeline().run(spark, wh, variables=VARS, full_refresh=False)

    # staging is an append-only arrival log with HWM filtering
    assert wh.read("stg", "stg_accounts").count() == 5  # 3 + 2
    assert wh.read("stg", "stg_subscriptions").count() == 7  # 4 + 3

    snap = wh.read("snapshots", "snap_subscriptions")
    by_sub = {
        s: snap.filter(snap.subscription_id == s).collect() for s in ["SUB1", "SUB2", "SUB3", "SUB4"]
    }
    # changed hash -> close + insert
    assert len(by_sub["SUB1"]) == 2
    closed1 = [r for r in by_sub["SUB1"] if r["dbt_valid_to"] is not None]
    assert len(closed1) == 1 and closed1[0]["dbt_valid_to"] == datetime(2024, 3, 15)
    # unchanged hash -> single open version
    assert len(by_sub["SUB2"]) == 1 and by_sub["SUB2"][0]["dbt_valid_to"] is None
    # SUB3 is absent from batch B2 but the snapshot source is the dedup
    # over the APPEND-ONLY arrival log, so the key never vanishes and the
    # version stays open — faithful to the reference (hard-delete
    # invalidation can only trigger if the source itself drops keys; the
    # merge branch is unit-tested in test_snapshot.py)
    assert len(by_sub["SUB3"]) == 1 and by_sub["SUB3"][0]["dbt_valid_to"] is None
    # new key -> open insert
    assert len(by_sub["SUB4"]) == 1 and by_sub["SUB4"][0]["dbt_valid_from"] == datetime(2024, 3, 15)

    # incremental restatement: cutoff = max_month - 2 = Apr; Apr-Jun redone
    fsm = wh.read("mart", "fct_subscription_month")
    sub1 = {r["month_start_date"]: r["mrr_amount"] for r in fsm.filter("subscription_id='SUB1'").collect()}
    assert sub1[date(2024, 3, 1)] == 100.0  # stale pre-cutoff month kept
    assert sub1[date(2024, 4, 1)] == 120.0  # restated with v2
    sub4 = {r["month_start_date"]: r["mrr_amount"] for r in fsm.filter("subscription_id='SUB4'").collect()}
    assert set(sub4) == {date(2024, 4, 1), date(2024, 5, 1), date(2024, 6, 1)}

    # movement across the restated window: ACC2 reactivates in April
    fam = wh.read("mart", "fct_account_month")
    acc2 = mrr_by_month(fam, "ACC2")
    assert acc2[date(2024, 4, 1)] == (80.0, "reactivation")
    acc1 = mrr_by_month(fam, "ACC1")
    assert acc1[date(2024, 4, 1)] == (120.0, "upgrade")

    run_invariants(wh)


def test_b3_late_restatement(spark, wh, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("csv"))
    ingest_batch(wh, tmpdir, "b3")
    build_pipeline().run(spark, wh, variables=VARS, full_refresh=False)

    snap = wh.read("snapshots", "snap_subscriptions")
    assert snap.filter("subscription_id = 'SUB1'").count() == 3
    assert snap.filter("subscription_id = 'SUB1' AND dbt_valid_to IS NULL").count() == 1

    # default window (2 months back from Jun) covers April: churn lands
    fam = wh.read("mart", "fct_account_month")
    acc1 = mrr_by_month(fam, "ACC1")
    assert acc1[date(2024, 4, 1)][1] == "churn"
    run_invariants(wh)

    # late restatement beyond the window: reprocess_months override
    build_pipeline().run(
        spark, wh, variables={**VARS, "reprocess_months": 30}, full_refresh=False
    )
    fsm = wh.read("mart", "fct_subscription_month")
    sub1 = {r["month_start_date"]: r["mrr_amount"] for r in fsm.filter("subscription_id='SUB1'").collect()}
    # current-truth restatement: v3 attributes applied to all months
    assert sub1 == {
        date(2024, 1, 1): 120.0,
        date(2024, 2, 1): 120.0,
        date(2024, 3, 1): 120.0,
        date(2024, 4, 1): 0.0,  # ends 2024-04-10, before April EOM
    }
    fam = wh.read("mart", "fct_account_month")
    acc1 = mrr_by_month(fam, "ACC1")
    assert acc1[date(2024, 1, 1)] == (120.0, "new")
    assert acc1[date(2024, 4, 1)] == (0.0, "churn")
    assert acc1[date(2024, 5, 1)] == (0.0, "zero")
    acc2 = mrr_by_month(fam, "ACC2")
    assert acc2[date(2024, 4, 1)] == (80.0, "reactivation")

    # SCD2 dims: current slice — SUB1v3, SUB2, SUB3, SUB4, SUB5 (SUB3
    # stays open: the arrival-log dedup never drops keys)
    dim_sub = wh.read("mart", "dim_subscription")
    assert dim_sub.filter("is_current").count() == 5
    assert dim_sub.count() == 7  # + SUB1v1, SUB1v2 closed

    run_invariants(wh)


def test_fk_and_generic_tests(spark, wh):
    stg_a = wh.read("stg", "stg_accounts")
    stg_s = wh.read("stg", "stg_subscriptions")
    assert tst.not_null(stg_a, "account_id").count() == 0
    assert tst.relationships(stg_s, "account_id", stg_a, "account_id").count() == 0
    assert tst.accepted_values(stg_s, "billing_frequency", ["monthly", "annual"]).count() == 0
    # staging hashes are stable across batches for identical business rows
    s2 = stg_s.filter("subscription_id = 'SUB2'").select("record_hash").distinct()
    assert s2.count() == 1


def test_full_declared_matrix_after_three_batches(spark, wh):
    """Every test the reference declares passes on the 3-batch state —
    the stronger gate `dbt build` would give a real user."""
    checks = tst.declared_reference_tests(wh)
    # the complete declared matrix: 8 staging + 10 dimension + 12 fact
    # + 15 mart_mrr_waterfall_month (reporting/schema.yml:4-41, added
    # r10) + 3 singular — a dropped schema.yml block shrinks this count
    assert len(checks) == 48
    failures = {
        name: viol.count() for name, viol in checks.items() if viol.count() > 0
    }
    assert failures == {}


def _tables(wh: Warehouse) -> list[tuple[str, str]]:
    return [
        (schema, table)
        for schema in sorted(os.listdir(wh.root))
        for table in sorted(os.listdir(os.path.join(wh.root, schema)))
        if not table.startswith("_")
    ]


def _jobs(spark, fn):
    """(fn's result, Spark jobs it started)."""
    j0 = engine_counters(spark)[0]
    out = fn()
    return out, engine_counters(spark)[0] - j0


def test_read_reuses_written_schema_and_frame(spark, tmp_path_factory):
    """Warehouse.read passes the schema recorded at write time instead
    of inferring it, and returns the same DataFrame while the table
    directory is unchanged. The recorded schema must be the one
    inference gives, after a full and after an incremental build, and a
    table changed behind the warehouse's back must be inferred again."""
    import shutil

    from pyspark.sql import functions as F

    w = Warehouse(spark, str(tmp_path_factory.mktemp("reuse_wh")))
    tmpdir = str(tmp_path_factory.mktemp("csv"))
    for batch, full in (("b1", True), ("b2", False)):
        ingest_batch(w, tmpdir, batch)
        build_pipeline().run(spark, w, variables=VARS, full_refresh=full)
        tables = _tables(w)
        assert len(tables) == 14
        for s, t in tables:
            assert w.read(s, t).schema == spark.read.parquet(w.path(s, t)).schema, (batch, s, t)
            again, jobs = _jobs(spark, lambda: w.read(s, t))
            assert again is w.read(s, t) and jobs == 0, (batch, s, t, jobs)

    # a plain Spark append into a partitioned fact table, new month
    fsm = w.read("mart", "fct_subscription_month")
    n = fsm.count()
    row = fsm.orderBy("subscription_id", "month_start_date").limit(1)
    extra = spark.createDataFrame(row.collect(), row.schema).withColumn(
        "month_start_date", F.lit(date(2030, 1, 1))
    )
    extra.write.mode("append").partitionBy("month_start_date").parquet(
        w.path("mart", "fct_subscription_month")
    )
    grown, jobs = _jobs(spark, lambda: w.read("mart", "fct_subscription_month"))
    assert grown is not fsm and jobs >= 1  # inferred, not reused
    assert grown.count() == n + 1
    assert grown.filter(F.col("month_start_date") == date(2030, 1, 1)).count() == 1

    # another directory swapped in under the table's name
    dd = w.read("mart", "dim_date")
    n = dd.count()
    swap = str(tmp_path_factory.mktemp("swap") / "dim_date")
    spark.createDataFrame(dd.collect() * 2, dd.schema).write.parquet(swap)
    old = str(tmp_path_factory.mktemp("old") / "dim_date")
    os.rename(w.path("mart", "dim_date"), old)
    shutil.move(swap, w.path("mart", "dim_date"))
    swapped, jobs = _jobs(spark, lambda: w.read("mart", "dim_date"))
    assert swapped is not dd and jobs >= 1
    assert swapped.count() == 2 * n


def test_repeated_batch_reuses_generated_classes(spark, tmp_path_factory):
    """A steady-state batch must find its generated classes in Spark's
    codegen cache: the same no-op incremental build plus the 48 declared
    tests, run twice, compiles almost nothing the second time. With
    Spark's default 100-entry cache the second run recompiles about 250
    classes."""
    w = Warehouse(spark, str(tmp_path_factory.mktemp("codegen_wh")))
    ingest_batch(w, str(tmp_path_factory.mktemp("csv")), "b1")
    build_pipeline().run(spark, w, variables=VARS, full_refresh=True)

    def batch() -> int:
        c0 = engine_counters(spark)[1]
        build_pipeline().run(spark, w, variables=VARS, full_refresh=False)
        checks = tst.declared_reference_tests(w)
        assert len(checks) == 48
        assert {k: v.count() for k, v in checks.items() if v.count()} == {}
        return engine_counters(spark)[1] - c0

    first, second = batch(), batch()
    assert second <= 40, (first, second)


def test_dag_listing_is_topological():
    """runner dag: every model appears exactly once, after all its deps
    (no Spark, pure registry metadata)."""
    from duckdb_dbt_finance_warehouse_spark.models import build_pipeline

    p = build_pipeline()
    order = p.topo_order()
    assert sorted(order) == sorted(p.models)
    seen: set[str] = set()
    for name in order:
        assert set(p.models[name].deps) <= seen
        seen.add(name)


def test_catalog_registration(spark, wh):
    """Catalog mode (sql.register_warehouse_catalog): one database per
    warehouse schema, external tables over the parquet layout, partition
    recovery for the month-partitioned facts — the analog of the
    reference's named DuckDB schemas for BI consumers."""
    import contextlib
    import io

    names = wh.register_catalog()
    try:
        assert "mart.fct_account_month" in names
        direct = wh.read("mart", "fct_account_month").count()
        via_catalog = spark.sql("SELECT count(*) FROM mart.fct_account_month").first()[0]
        assert via_catalog == direct
        # named-table round trip on the flagship mart
        mart = spark.table("mart.mart_mrr_waterfall_month")
        assert mart.count() == wh.read("mart", "mart_mrr_waterfall_month").count()
        assert set(mart.columns) == set(
            wh.read("mart", "mart_mrr_waterfall_month").columns
        )
        # partition pruning must reach the scan through the catalog
        p = spark.sql(
            "SELECT subscription_id FROM mart.fct_subscription_month "
            "WHERE month_start_date = DATE'2024-02-01'"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            p.explain("formatted")
        assert "PartitionFilters: [isnotnull(month_start_date" in buf.getvalue()
        assert p.count() > 0
    finally:
        for db in {n.split(".")[0] for n in names}:
            spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def test_purge_keys_right_to_be_forgotten(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.sources.tables import purge_keys

    root = str(tmp_path_factory.mktemp("purge_wh"))
    w = Warehouse(spark, root)
    df = spark.range(0, 100).selectExpr("id AS account_id", "id * 2 AS v")
    w.write(df, "stg", "accounts_like")
    keys = spark.createDataFrame([(3,), (7,), (999,)], ["account_id"])  # 999 absent
    removed = purge_keys(w, "stg", "accounts_like", "account_id", keys)
    assert removed == 2
    left = w.read("stg", "accounts_like")
    assert left.count() == 98
    assert left.filter(F.col("account_id").isin(3, 7)).count() == 0
    # idempotent: purging again removes nothing
    assert purge_keys(w, "stg", "accounts_like", "account_id", keys) == 0


def test_vacuum_cleans_staging_and_heals_trash(spark, tmp_path_factory):
    import os
    import shutil

    root = str(tmp_path_factory.mktemp("vacuum_wh"))
    w = Warehouse(spark, root)
    a = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    w.write(a, "stg", "alive")
    w.write(a, "stg", "healthy")

    # crash BEFORE swap: orphaned staging next to an intact table
    shutil.copytree(w.path("stg", "alive"), w.path("stg", "_staging_alive"))
    # crash AFTER rename(target, trash): trash is the only copy
    os.rename(w.path("stg", "healthy"), w.path("stg", "_trash_healthy"))
    # completed swap whose cleanup died: stale trash next to a live table
    shutil.copytree(w.path("stg", "alive"), w.path("stg", "_trash_alive"))

    # default min-age protects a POSSIBLY-IN-FLIGHT (fresh-mtime) staging
    # dir from a concurrent writer; trash healing is unconditional
    counts = w.vacuum()
    assert counts == {
        "staging_removed": 0,
        "trash_restored": 1,
        "trash_removed": 1,
    }
    assert os.path.isdir(w.path("stg", "_staging_alive"))
    # age 0 = "no writer is running": the crash orphan goes
    counts = w.vacuum(staging_min_age_s=0)
    assert counts == {
        "staging_removed": 1,
        "trash_restored": 0,
        "trash_removed": 0,
    }
    assert not os.path.isdir(w.path("stg", "_staging_alive"))
    assert not os.path.isdir(w.path("stg", "_trash_alive"))
    assert not os.path.isdir(w.path("stg", "_trash_healthy"))
    assert w.read("stg", "healthy").count() == 10
    assert w.read("stg", "alive").count() == 10
    # idempotent on a clean warehouse
    assert w.vacuum() == {
        "staging_removed": 0,
        "trash_restored": 0,
        "trash_removed": 0,
    }


def test_shard_export_manifest_merges_to_source_fingerprint(spark, tmp_path_factory):
    from duckdb_dbt_finance_warehouse_spark.operators.maintenance import (
        rendezvous_shard,
        table_fingerprint,
        table_fingerprint_by,
    )
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("shard_wh"))
    w = Warehouse(spark, root)
    src = spark.range(0, 500).selectExpr("id", "id * 7 AS v")
    w.write(src, "stg", "t")
    df = w.read("stg", "t")
    cols = df.columns
    sharded = df.withColumn("shard", rendezvous_shard("id", 4))
    w.write(sharded, "shards", "t", partition_by=["shard"])
    back = w.read("shards", "t")

    manifest = {
        r["shard"]: r for r in table_fingerprint_by(back, "shard", cols).collect()
    }
    assert set(manifest) == {0, 1, 2, 3}
    total = table_fingerprint(df).first()
    # mergeable: summed shard fingerprints == whole-table fingerprint
    assert sum(r["n_rows"] for r in manifest.values()) == total["n_rows"] == 500
    assert sum(r["h1_sum"] for r in manifest.values()) == total["h1_sum"]
    assert sum(r["h2_sum"] for r in manifest.values()) == total["h2_sum"]
    # each shard's manifest row verifies that shard in isolation
    s0 = table_fingerprint(
        back.filter(F.col("shard") == 0).select(*cols)
    ).first()
    assert (s0["n_rows"], s0["h1_sum"], s0["h2_sum"]) == (
        manifest[0]["n_rows"], manifest[0]["h1_sum"], manifest[0]["h2_sum"],
    )
    # rendezvous stability: growing 4 -> 5 shards only moves keys INTO 4
    before = {r["id"]: r["shard"] for r in sharded.select("id", "shard").collect()}
    after = {
        r["id"]: r["shard"]
        for r in df.withColumn("shard", rendezvous_shard("id", 5))
        .select("id", "shard").collect()
    }
    moved = {k for k in before if before[k] != after[k]}
    assert moved and all(after[k] == 4 for k in moved)
    assert len(moved) < 500 * 0.4


def test_analyze_populates_catalog_statistics(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("analyze_wh"))
    w = Warehouse(spark, root)
    w.write(
        spark.range(0, 1000).selectExpr("id", "id % 7 AS grp", "id * 1.5 AS v"),
        "stg",
        "t",
    )
    try:
        names = w.analyze()
        assert "stg.t" in names
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED stg.t").collect()
        }
        assert "Statistics" in desc and "1000 rows" in desc["Statistics"]
        cols = {
            r["info_name"]: r["info_value"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED stg.t grp").collect()
        }
        assert cols.get("distinct_count") == "7"
        assert cols.get("min") == "0" and cols.get("max") == "6"
    finally:
        spark.sql("DROP DATABASE IF EXISTS stg CASCADE")
        spark.sql("DROP DATABASE IF EXISTS shards CASCADE")
