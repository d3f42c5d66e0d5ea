"""Staging models — the typed-projection schema contract over the raw
arrival log (reference: models/staging/*.sql).

Incremental append (S10): on incremental runs only rows newer than the
target's max ``ingested_at`` are processed; the materialization policy
appends them. The scalar high-watermark is collected once on the driver
(one row) — at 100 TB the filter prunes the raw scan to the new batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    empty_to_null, lower_norm, negative_to_null, record_hash, trim_clean,
)
from ..plans.registry import Context


def _hwm_filter(ctx: Context, df: DataFrame, model_name: str) -> DataFrame:
    """WHERE ingested_at > (SELECT max(ingested_at) FROM {{ this }})
    (reference: stg_accounts.sql:9-11)."""
    if not ctx.is_incremental(model_name):
        return df
    hwm = ctx.this(model_name).agg(F.max("ingested_at")).first()[0]
    if hwm is None:
        return df
    return df.filter(F.col("ingested_at") > F.lit(hwm))


def stg_accounts(ctx: Context) -> DataFrame:
    """reference: models/staging/stg_accounts.sql:14-49"""
    src = _hwm_filter(ctx, ctx.source("raw", "accounts"), "stg_accounts")
    cleaned = {
        "account_id": trim_clean("account_id"),
        "account_name": empty_to_null("account_name"),
        "industry": empty_to_null("industry"),
        "country": empty_to_null("country"),
        "signup_date": F.col("signup_date").cast("date"),
        "referral_source": empty_to_null("referral_source"),
        "signup_plan_tier": empty_to_null("plan_tier"),
        "signup_seats": F.col("seats").cast("int"),
        "signup_is_trial": F.col("is_trial").cast("boolean"),
        "churn_flag": F.col("churn_flag").cast("boolean"),
    }
    return src.select(
        *[c.alias(n) for n, c in cleaned.items()],
        "ingested_at",
        "source_file",
        record_hash(list(cleaned.values())).alias("record_hash"),
    )


def stg_subscriptions(ctx: Context) -> DataFrame:
    """reference: models/staging/stg_subscriptions.sql:14-61"""
    src = _hwm_filter(ctx, ctx.source("raw", "subscriptions"), "stg_subscriptions")
    mrr = F.col("mrr_amount").cast("double")
    arr = F.col("arr_amount").cast("double")
    hashed = [
        trim_clean("subscription_id"),
        trim_clean("account_id"),
        F.col("start_date").cast("date"),
        F.col("end_date").cast("date"),
        empty_to_null("plan_tier"),
        F.col("seats").cast("int"),
        mrr,
        arr,
        F.col("is_trial").cast("boolean"),
        F.col("upgrade_flag").cast("boolean"),
        F.col("downgrade_flag").cast("boolean"),
        F.col("churn_flag").cast("boolean"),
        lower_norm("billing_frequency"),
        F.col("auto_renew_flag").cast("boolean"),
    ]
    return src.select(
        trim_clean("subscription_id").alias("subscription_id"),
        trim_clean("account_id").alias("account_id"),
        F.col("start_date").cast("date").alias("start_date"),
        F.col("end_date").cast("date").alias("end_date"),
        empty_to_null("plan_tier").alias("plan_tier"),
        F.col("seats").cast("int").alias("seats"),
        mrr.alias("mrr_amount_raw"),
        arr.alias("arr_amount_raw"),
        negative_to_null(mrr).alias("mrr_amount"),
        negative_to_null(arr).alias("arr_amount"),
        F.col("is_trial").cast("boolean").alias("is_trial"),
        F.col("upgrade_flag").cast("boolean").alias("upgrade_flag"),
        F.col("downgrade_flag").cast("boolean").alias("downgrade_flag"),
        F.col("churn_flag").cast("boolean").alias("churn_flag"),
        lower_norm("billing_frequency").alias("billing_frequency"),
        F.col("auto_renew_flag").cast("boolean").alias("auto_renew_flag"),
        "ingested_at",
        "source_file",
        record_hash(hashed).alias("record_hash"),
    )


def stg_support_tickets(ctx: Context) -> DataFrame:
    """reference: models/staging/stg_support_tickets.sql:7-48"""
    src = ctx.source("raw", "support_tickets")
    res_h = F.col("resolution_time_hours").cast("double")
    frt_m = F.col("first_response_time_minutes").cast("double")
    sat = F.col("satisfaction_score").cast("double")
    hashed = [
        trim_clean("ticket_id"),
        trim_clean("account_id"),
        F.col("submitted_at").cast("timestamp"),
        F.col("closed_at").cast("timestamp"),
        res_h,
        lower_norm("priority"),
        frt_m,
        sat,
        F.col("escalation_flag").cast("boolean"),
    ]
    return src.select(
        trim_clean("ticket_id").alias("ticket_id"),
        trim_clean("account_id").alias("account_id"),
        F.col("submitted_at").cast("timestamp").alias("submitted_at"),
        F.col("closed_at").cast("timestamp").alias("closed_at"),
        res_h.alias("resolution_time_hours_raw"),
        negative_to_null(res_h).alias("resolution_time_hours"),
        lower_norm("priority").alias("priority"),
        frt_m.alias("first_response_time_minutes_raw"),
        negative_to_null(frt_m).alias("first_response_time_minutes"),
        sat.alias("satisfaction_score"),
        F.col("escalation_flag").cast("boolean").alias("escalation_flag"),
        F.col("closed_at").cast("timestamp").isNotNull().alias("is_closed"),
        "ingested_at",
        "source_file",
        record_hash(hashed).alias("record_hash"),
    )
