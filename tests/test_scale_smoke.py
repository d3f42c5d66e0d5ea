"""Scale smoke: the finance pipeline at 20x the reference's data volume
(10k accounts / 100k subscriptions, generated engine-side — no CSV, no
driver loops). Asserts the same invariants that hold at reference scale
plus grain cardinalities, demonstrating the partition/broadcast design
holds as data grows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_dbt_finance_warehouse_spark.models import build_pipeline
from duckdb_dbt_finance_warehouse_spark.plans import testing as tst
from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

VARS = {"dim_date_start_date": "2023-01-01", "dim_date_end_date": "2025-12-31"}

N_ACCOUNTS = 10_000
N_SUBS = 100_000


def synth_raw(spark, wh: Warehouse) -> None:
    """Deterministic raw tables from spark.range — pure column
    arithmetic, fully parallel, no Python loops."""
    acc = spark.range(N_ACCOUNTS).select(
        F.concat(F.lit("A-"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("account_id"),
        F.concat(F.lit("Co_"), F.col("id").cast("string")).alias("account_name"),
        F.element_at(
            F.array(F.lit("DevTools"), F.lit("FinTech"), F.lit("EdTech")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("industry"),
        F.lit("US").alias("country"),
        F.date_add(F.lit("2023-01-01").cast("date"), (F.col("id") % 700).cast("int")).alias(
            "signup_date"
        ),
        F.lit("organic").alias("referral_source"),
        F.lit("Pro").alias("plan_tier"),
        (F.col("id") % 50 + 1).cast("int").alias("seats"),
        (F.col("id") % 10 == 0).alias("is_trial"),
        F.lit(False).alias("churn_flag"),
        F.lit("2025-01-15 00:00:00").cast("timestamp").alias("ingested_at"),
        F.lit("synthetic").alias("source_file"),
    )
    subs = spark.range(N_SUBS).select(
        F.concat(F.lit("S-"), F.lpad(F.col("id").cast("string"), 7, "0")).alias(
            "subscription_id"
        ),
        F.concat(
            F.lit("A-"), F.lpad((F.col("id") % N_ACCOUNTS).cast("string"), 6, "0")
        ).alias("account_id"),
        F.date_add(F.lit("2023-01-01").cast("date"), (F.col("id") % 650).cast("int")).alias(
            "start_date"
        ),
        # ~30% get an end date 90-400 days after start; rest open
        F.when(
            F.col("id") % 10 < 3,
            F.date_add(
                F.date_add(F.lit("2023-01-01").cast("date"), (F.col("id") % 650).cast("int")),
                (90 + (F.col("id") % 311)).cast("int"),
            ),
        ).alias("end_date"),
        F.lit("Pro").alias("plan_tier"),
        (F.col("id") % 40 + 1).cast("int").alias("seats"),
        ((F.col("id") % 200) * 7.5 + 10.0).alias("mrr_amount"),
        (((F.col("id") % 200) * 7.5 + 10.0) * 12).alias("arr_amount"),
        (F.col("id") % 17 == 0).alias("is_trial"),
        F.lit(False).alias("upgrade_flag"),
        F.lit(False).alias("downgrade_flag"),
        F.lit(False).alias("churn_flag"),
        F.element_at(
            F.array(F.lit("monthly"), F.lit("annual")), (F.col("id") % 2 + 1).cast("int")
        ).alias("billing_frequency"),
        F.lit(True).alias("auto_renew_flag"),
        F.lit("2025-01-15 00:00:00").cast("timestamp").alias("ingested_at"),
        F.lit("synthetic").alias("source_file"),
    )
    # raw layer expects string-typed date columns (the staging contract casts)
    wh.write(
        acc.withColumn("signup_date", F.col("signup_date").cast("string")),
        "raw",
        "accounts",
    )
    wh.write(
        subs.withColumn("start_date", F.col("start_date").cast("string")).withColumn(
            "end_date", F.col("end_date").cast("string")
        ),
        "raw",
        "subscriptions",
    )
    wh.write(
        spark.createDataFrame(
            [],
            "ticket_id string, account_id string, submitted_at string, closed_at string,"
            " resolution_time_hours double, priority string,"
            " first_response_time_minutes double, satisfaction_score double,"
            " escalation_flag boolean, ingested_at timestamp, source_file string",
        ),
        "raw",
        "support_tickets",
    )


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    w = Warehouse(spark, str(tmp_path_factory.mktemp("scalewh")))
    synth_raw(spark, w)
    build_pipeline().run(spark, w, variables=VARS, full_refresh=True)
    return w


def test_fact_cardinalities(spark, wh):
    fsm = wh.read("mart", "fct_subscription_month")
    n = fsm.count()
    assert n > 1_000_000  # ~100k subs x active months
    # partitioned by month for dynamic-overwrite restatement + pruning
    assert fsm.select("month_start_date").distinct().count() == 36


def test_invariants_hold_at_20x(spark, wh):
    fsm = wh.read("mart", "fct_subscription_month")
    fam = wh.read("mart", "fct_account_month")
    mart = wh.read("mart", "mart_mrr_waterfall_month")
    assert tst.unique(fsm, ["subscription_id", "month_start_date"]).count() == 0
    assert tst.unique(fam, ["account_id", "month_start_date"]).count() == 0
    assert tst.waterfall_ties_out(mart).count() == 0
    assert tst.account_ties_subscription(fam, fsm).count() == 0
    assert tst.eom_boundary(fsm).count() == 0


def test_partition_pruning_on_month_predicate(spark, wh):
    import contextlib
    import io

    fsm = wh.read("mart", "fct_subscription_month").filter(
        F.col("month_start_date") == "2024-06-01"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fsm.explain("formatted")
    plan = buf.getvalue()
    # month filter must prune partitions at the scan, not post-filter
    assert "PartitionFilters" in plan
    assert "month_start_date" in plan.split("PartitionFilters", 1)[1][:200]
