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


def unique(df: DataFrame, cols: list[str]) -> DataFrame:
    """dbt ``unique`` on one column, or dbt_utils
    ``unique_combination_of_columns`` on a composite grain."""
    return df.groupBy(*cols).count().filter(F.col("count") > 1)


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


# The declared test matrix, one row per test in reference schema.yml
# order: (kind, table, columns, argument). Columns are comma-separated;
# a unique test on more than one is a grain test.
# The argument is the accepted values, an FK's "parent.column", CURRENT
# for a unique test over the current-truth view, or a singular test's
# second table.
CURRENT = "current view"
MART_MEASURES = (
    "begin_mrr", "end_mrr", "net_mrr_change", "new_mrr", "reactivation_mrr", "expansion_mrr",
    "contraction_mrr", "churn_mrr", "active_accounts", "churned_accounts", "new_accounts",
    "reactivated_accounts",
)
DECLARED: tuple[tuple[str, str, str, object], ...] = (
    # --- models/staging/schema.yml ---
    ("not_null", "stg_accounts", "account_id", None),
    ("unique", "stg_accounts", "account_id", CURRENT),
    ("not_null", "stg_accounts", "signup_date", None),
    ("not_null", "stg_subscriptions", "subscription_id", None),
    ("unique", "stg_subscriptions", "subscription_id", CURRENT),
    ("not_null", "stg_subscriptions", "account_id", None),
    ("relationships", "stg_subscriptions", "account_id", "stg_accounts.account_id"),
    ("accepted_values", "stg_subscriptions", "billing_frequency", ("monthly", "annual")),
    # --- models/reporting/dimensions/schema.yml ---
    ("not_null", "dim_account", "account_key", None),
    ("unique", "dim_account", "account_key", None),
    ("not_null", "dim_account", "account_id", None),
    ("not_null", "dim_account", "valid_from", None),
    ("not_null", "dim_subscription", "subscription_key", None),
    ("unique", "dim_subscription", "subscription_key", None),
    ("not_null", "dim_subscription", "subscription_id", None),
    ("not_null", "dim_subscription", "account_key", None),
    ("relationships", "dim_subscription", "account_key", "dim_account.account_key"),
    ("not_null", "dim_subscription", "valid_from", None),
    # --- models/reporting/facts/schema.yml ---
    ("unique", "fct_subscription_month", "subscription_id,month_start_date", None),
    ("not_null", "fct_subscription_month", "subscription_key", None),
    ("relationships", "fct_subscription_month", "subscription_key", "dim_subscription.subscription_key"),
    ("not_null", "fct_subscription_month", "account_key", None),
    ("relationships", "fct_subscription_month", "account_key", "dim_account.account_key"),
    ("not_null", "fct_subscription_month", "month_start_date", None),
    ("relationships", "fct_subscription_month", "month_start_date", "dim_date.date_day"),
    ("unique", "fct_account_month", "account_id,month_start_date", None),
    ("not_null", "fct_account_month", "account_key", None),
    ("relationships", "fct_account_month", "account_key", "dim_account.account_key"),
    ("not_null", "fct_account_month", "month_start_date", None),
    ("relationships", "fct_account_month", "month_start_date", "dim_date.date_day"),
    # --- models/reporting/schema.yml (mart_mrr_waterfall_month) ---
    ("not_null", "mart_mrr_waterfall_month", "month_start_date", None),
    ("unique", "mart_mrr_waterfall_month", "month_start_date", None),
    ("relationships", "mart_mrr_waterfall_month", "month_start_date", "dim_date.date_day"),
    *(("not_null", "mart_mrr_waterfall_month", c, None) for c in MART_MEASURES),
    # --- tests/*.sql (singular) ---
    ("waterfall ties out", "mart_mrr_waterfall_month", "", None),
    ("account ties subscription", "fct_account_month", "", "fct_subscription_month"),
    ("EOM boundary", "fct_subscription_month", "", None),
)
SINGULAR = {
    "waterfall ties out": waterfall_ties_out,
    "account ties subscription": account_ties_subscription,
    "EOM boundary": eom_boundary,
}


def _declared(read, kind: str, table: str, cols: str, arg) -> tuple[str, DataFrame]:
    """One spec row's test name (one rule per kind) and violating rows."""
    df = read(table)
    if kind == "not_null":
        return f"{table}.{cols} not_null", not_null(df, cols)
    if kind == "accepted_values":
        return f"{table}.{cols} accepted_values", accepted_values(df, cols, list(arg))
    if kind == "relationships":
        parent, parent_col = arg.split(".")
        return f"{table}.{cols} -> {parent} FK", relationships(df, cols, read(parent), parent_col)
    if kind == "unique" and "," in cols:
        return f"{table} grain unique", unique(df, cols.split(","))
    if kind == "unique" and arg == CURRENT:
        current = latest_per_key(df, cols, ARRIVAL_ORDER)
        return f"{table}.{cols} unique ({CURRENT} — A1 deviation)", unique(current, [cols])
    if kind == "unique":
        return f"{table}.{cols} unique", unique(df, [cols])
    return kind, SINGULAR[kind](df, *([read(arg)] if arg else []))


def declared_reference_tests(wh) -> dict[str, DataFrame]:
    """The COMPLETE test matrix the reference declares (``DECLARED``) —
    every generic test in models/staging/schema.yml, models/reporting/
    dimensions/schema.yml, models/reporting/facts/schema.yml and
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
    frames: dict[str, DataFrame] = {}

    def read(table: str) -> DataFrame:
        if table not in frames:
            frames[table] = wh.read("stg" if table.startswith("stg_") else "mart", table)
        return frames[table]

    return dict(_declared(read, *row) for row in DECLARED)
