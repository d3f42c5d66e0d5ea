"""Dimensions: the conformed date spine and the SCD2 dims
(reference: models/reporting/dimensions/*.sql).

dim_date is generated engine-side (explode(sequence)) — ~1,095 rows for
the default vars; always broadcast into joins. The SCD2 dims read the
snapshot state and derive surrogate keys md5(natural_key|valid_from),
deterministic across reruns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dates import date_kit, date_spine, month_start
from ..functions.mrr import first_version_backdated, valid_at
from ..plans.registry import Context


def dim_date(ctx: Context) -> DataFrame:
    """reference: dim_date.sql (vars dbt_project.yml:40-41; the dbt_utils
    date_spine is END-EXCLUSIVE, so the last generated day is end-1)."""
    start = ctx.var("dim_date_start_date", "2023-01-01")
    end = ctx.var("dim_date_end_date", "2025-12-31")
    spine = date_spine(ctx.spark, start, end, end_exclusive=True, col_name="date_day")
    d = F.col("date_day")
    kit = date_kit(d, F.col("month_start_date"))
    return spine.withColumn("month_start_date", month_start(d)).select(
        d.alias("date_day"), *[c.alias(n) for n, c in kit.items()]
    )


_ACCOUNT_ATTRS = [
    "account_name",
    "industry",
    "country",
    "signup_date",
    "referral_source",
    "signup_plan_tier",
    "signup_seats",
    "signup_is_trial",
    "churn_flag",
]


def dim_account(ctx: Context) -> DataFrame:
    """reference: dim_account.sql — SCD2 versions from snap_accounts with
    surrogate key md5(account_id|valid_from)."""
    s = ctx.ref("snap_accounts")
    return s.select(
        F.md5(
            F.concat_ws(
                "|", F.col("account_id"), F.col("dbt_valid_from").cast("string")
            )
        ).alias("account_key"),
        "account_id",
        *_ACCOUNT_ATTRS,
        F.col("dbt_valid_from").alias("valid_from"),
        F.col("dbt_valid_to").alias("valid_to"),
        F.col("dbt_valid_to").isNull().alias("is_current"),
        "ingested_at",
        "source_file",
        "record_hash",
    )


_SUB_ATTRS = [
    "start_date",
    "end_date",
    "plan_tier",
    "seats",
    "billing_frequency",
    "is_trial",
    "upgrade_flag",
    "downgrade_flag",
    "churn_flag",
    "auto_renew_flag",
    "mrr_amount",
    "arr_amount",
    "mrr_amount_raw",
    "arr_amount_raw",
]


def dim_subscription(ctx: Context) -> DataFrame:
    """reference: dim_subscription.sql:39-48 — subscription versions with
    the account dim version valid AT the subscription version's start
    (SCD2 validity join J3). dim_account is small relative to facts —
    broadcast."""
    s = ctx.ref("snap_subscriptions")
    a = ctx.ref("dim_account").select("account_id", "account_key", "valid_from", "valid_to")
    # J4 backdating at the dim level: valid_from is the row's OWN
    # ingested_at (snapshot determinism deviation), so a subscription
    # batch ingested minutes before its account batch has
    # dbt_valid_from < every account valid_from and the as-of join
    # would yield NULL account_key across the dim (failing the declared
    # not_null/FK tests). Each account's FIRST version opens at
    # 1900-01-01 — exactly the facts layer's first-version backfill.
    wa = Window.partitionBy("account_id").orderBy("valid_from", "account_key")
    a = a.withColumn("_rn", F.row_number().over(wa))
    a = a.withColumn(
        "effective_valid_from", first_version_backdated(a, F.col("_rn"), "valid_from")
    ).drop("_rn", "valid_from")
    cond = (s.account_id == a.account_id) & valid_at(
        s.dbt_valid_from, a.effective_valid_from, a.valid_to
    )
    joined = s.join(F.broadcast(a), cond, "left").drop(a.account_id)
    return joined.select(
        F.md5(
            F.concat_ws(
                "|", F.col("subscription_id"), F.col("dbt_valid_from").cast("string")
            )
        ).alias("subscription_key"),
        "subscription_id",
        s.account_id.alias("account_id"),
        "account_key",
        *_SUB_ATTRS,
        F.col("dbt_valid_from").alias("valid_from"),
        F.col("dbt_valid_to").alias("valid_to"),
        F.col("dbt_valid_to").isNull().alias("is_current"),
        "ingested_at",
        "source_file",
        "record_hash",
    )
