"""Data-quality test kit — dbt's generic + singular tests as DataFrame
checks (SURVEY §2.10 D5-D7, §5).

Every check returns a DataFrame of VIOLATING rows (dbt convention:
pass == 0 rows), so callers can assert `.count() == 0` or inspect
failures. All checks are single-pass aggregations/joins — no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lineage import ARRIVAL_ORDER, latest_per_key


def not_null(df: DataFrame, col: str) -> DataFrame:
    return df.filter(F.col(col).isNull())


def unique(df: DataFrame, col: str) -> DataFrame:
    return df.groupBy(col).count().filter(F.col("count") > 1)


def accepted_values(df: DataFrame, col: str, values: list) -> DataFrame:
    """NULLs pass (dbt semantics); only non-null out-of-domain rows fail."""
    return df.filter(F.col(col).isNotNull() & ~F.col(col).isin(values))


def relationships(child: DataFrame, child_col: str, parent: DataFrame, parent_col: str) -> DataFrame:
    """FK integrity: child keys with no parent (anti join; NULL FKs pass)."""
    return (
        child.filter(F.col(child_col).isNotNull())
        .select(child_col)
        .join(parent.select(F.col(parent_col).alias(child_col)), child_col, "left_anti")
    )


def unique_combination(df: DataFrame, cols: list[str]) -> DataFrame:
    """dbt_utils.unique_combination_of_columns: composite grain must be unique."""
    return df.groupBy(*cols).count().filter(F.col("count") > 1)


# --- singular invariants (reference tests/, pass == empty) -----------------


def waterfall_ties_out(mart: DataFrame, tol: float = 1e-4) -> DataFrame:
    """begin + new + reactivation + expansion - contraction - churn == end
    within tolerance (reference: tests/test_waterfall_ties_out.sql)."""
    recon = (
        F.col("begin_mrr")
        + F.col("new_mrr")
        + F.col("reactivation_mrr")
        + F.col("expansion_mrr")
        - F.col("contraction_mrr")
        - F.col("churn_mrr")
    )
    return mart.withColumn("recon_diff", F.abs(recon - F.col("end_mrr"))).filter(
        F.col("recon_diff") > tol
    )


def account_ties_subscription(
    fct_account_month: DataFrame, fct_subscription_month: DataFrame, tol: float = 1e-4
) -> DataFrame:
    """account-month end MRR == sum of subscription-month MRR
    (reference: tests/test_account_month_ties_subscription_month.sql)."""
    sub = fct_subscription_month.groupBy("account_id", "month_start_date").agg(
        F.sum(F.coalesce("mrr_amount", F.lit(0.0))).alias("sub_mrr")
    )
    return (
        fct_account_month.join(sub, ["account_id", "month_start_date"], "left")
        .withColumn(
            "diff", F.abs(F.col("mrr_end_mrr") - F.coalesce(F.col("sub_mrr"), F.lit(0.0)))
        )
        .filter(F.col("diff") > tol)
    )


def eom_boundary(fct_subscription_month: DataFrame) -> DataFrame:
    """a subscription ending before the month's last day must contribute 0
    MRR that month (reference: tests/test_eom_end_date_boundary.sql).
    The reference flags ANY such month row — including months entirely
    AFTER the end date (a spine off-by-one emits exactly those) — and
    treats NULL mrr as 0 with a two-sided <> 0; an earlier port
    narrowed this with a trunc(end)==month conjunct and > 0, silently
    passing post-end nonzero rows the declared test would catch."""
    return fct_subscription_month.filter(
        F.col("subscription_end_date").isNotNull()
        & (F.col("subscription_end_date") < F.last_day(F.col("month_start_date")))
        & (F.coalesce(F.col("mrr_amount"), F.lit(0.0)) != 0)
    )


def declared_reference_tests(wh) -> dict[str, DataFrame]:
    """The COMPLETE test matrix the reference declares — every generic
    test in models/staging/schema.yml, models/reporting/dimensions/
    schema.yml, models/reporting/facts/schema.yml and
    models/reporting/schema.yml (the mart_mrr_waterfall_month block:
    month_start_date not_null/unique/FK->dim_date + not_null on all 12
    measures, reference reporting/schema.yml:4-41) plus the three
    singular tests in tests/*.sql — as named violating-row DataFrames
    (pass == 0 rows each). 48 checks total: 8 staging + 10 dimension +
    12 fact + 15 mart + 3 singular.

    Deviation (same root cause as anomaly A1, SURVEY §8): the reference
    declares ``unique`` on staging keys (staging/schema.yml:7,13), but
    staging is an append-only arrival log — with >1 ingested batch the
    declared test fails in dbt too (it only passes on the single-batch
    shipped data). Uniqueness is asserted on the current-truth view
    (latest arrival per key), the invariant the declaration means.
    dim_feature / mart_subscription_month_enriched tests target models
    that do not exist in the reference (anomaly A3) and are skipped."""
    stg_a = wh.read("stg", "stg_accounts")
    stg_s = wh.read("stg", "stg_subscriptions")
    cur_a = latest_per_key(stg_a, "account_id", ARRIVAL_ORDER)
    cur_s = latest_per_key(stg_s, "subscription_id", ARRIVAL_ORDER)
    dim_a = wh.read("mart", "dim_account")
    dim_s = wh.read("mart", "dim_subscription")
    dim_d = wh.read("mart", "dim_date")
    fsm = wh.read("mart", "fct_subscription_month")
    fam = wh.read("mart", "fct_account_month")
    mart = wh.read("mart", "mart_mrr_waterfall_month")

    return {
        # --- models/staging/schema.yml ---
        "stg_accounts.account_id not_null": not_null(stg_a, "account_id"),
        "stg_accounts.account_id unique (current view — A1 deviation)": unique(
            cur_a, "account_id"
        ),
        "stg_accounts.signup_date not_null": not_null(stg_a, "signup_date"),
        "stg_subscriptions.subscription_id not_null": not_null(
            stg_s, "subscription_id"
        ),
        "stg_subscriptions.subscription_id unique (current view — A1 deviation)": unique(
            cur_s, "subscription_id"
        ),
        "stg_subscriptions.account_id not_null": not_null(stg_s, "account_id"),
        "stg_subscriptions.account_id -> stg_accounts FK": relationships(
            stg_s, "account_id", stg_a, "account_id"
        ),
        "stg_subscriptions.billing_frequency accepted_values": accepted_values(
            stg_s, "billing_frequency", ["monthly", "annual"]
        ),
        # --- models/reporting/dimensions/schema.yml ---
        "dim_account.account_key not_null": not_null(dim_a, "account_key"),
        "dim_account.account_key unique": unique(dim_a, "account_key"),
        "dim_account.account_id not_null": not_null(dim_a, "account_id"),
        "dim_account.valid_from not_null": not_null(dim_a, "valid_from"),
        "dim_subscription.subscription_key not_null": not_null(
            dim_s, "subscription_key"
        ),
        "dim_subscription.subscription_key unique": unique(dim_s, "subscription_key"),
        "dim_subscription.subscription_id not_null": not_null(
            dim_s, "subscription_id"
        ),
        "dim_subscription.account_key not_null": not_null(dim_s, "account_key"),
        "dim_subscription.account_key -> dim_account FK": relationships(
            dim_s, "account_key", dim_a, "account_key"
        ),
        "dim_subscription.valid_from not_null": not_null(dim_s, "valid_from"),
        # --- models/reporting/facts/schema.yml ---
        "fct_subscription_month grain unique": unique_combination(
            fsm, ["subscription_id", "month_start_date"]
        ),
        "fct_subscription_month.subscription_key not_null": not_null(
            fsm, "subscription_key"
        ),
        "fct_subscription_month.subscription_key -> dim_subscription FK": relationships(
            fsm, "subscription_key", dim_s, "subscription_key"
        ),
        "fct_subscription_month.account_key not_null": not_null(fsm, "account_key"),
        "fct_subscription_month.account_key -> dim_account FK": relationships(
            fsm, "account_key", dim_a, "account_key"
        ),
        "fct_subscription_month.month_start_date not_null": not_null(
            fsm, "month_start_date"
        ),
        "fct_subscription_month.month_start_date -> dim_date FK": relationships(
            fsm, "month_start_date", dim_d, "date_day"
        ),
        "fct_account_month grain unique": unique_combination(
            fam, ["account_id", "month_start_date"]
        ),
        "fct_account_month.account_key not_null": not_null(fam, "account_key"),
        "fct_account_month.account_key -> dim_account FK": relationships(
            fam, "account_key", dim_a, "account_key"
        ),
        "fct_account_month.month_start_date not_null": not_null(
            fam, "month_start_date"
        ),
        "fct_account_month.month_start_date -> dim_date FK": relationships(
            fam, "month_start_date", dim_d, "date_day"
        ),
        # --- models/reporting/schema.yml (mart_mrr_waterfall_month) ---
        "mart_mrr_waterfall_month.month_start_date not_null": not_null(
            mart, "month_start_date"
        ),
        "mart_mrr_waterfall_month.month_start_date unique": unique(
            mart, "month_start_date"
        ),
        "mart_mrr_waterfall_month.month_start_date -> dim_date FK": relationships(
            mart, "month_start_date", dim_d, "date_day"
        ),
        **{
            f"mart_mrr_waterfall_month.{c} not_null": not_null(mart, c)
            for c in (
                "begin_mrr",
                "end_mrr",
                "net_mrr_change",
                "new_mrr",
                "reactivation_mrr",
                "expansion_mrr",
                "contraction_mrr",
                "churn_mrr",
                "active_accounts",
                "churned_accounts",
                "new_accounts",
                "reactivated_accounts",
            )
        },
        # --- tests/*.sql (singular) ---
        "waterfall ties out": waterfall_ties_out(mart),
        "account ties subscription": account_ties_subscription(fam, fsm),
        "EOM boundary": eom_boundary(fsm),
    }
