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


def _staged(
    src: DataFrame,
    cleaned: dict,
    derived: dict | None = None,
) -> DataFrame:
    """Select the ``cleaned`` columns in order, each followed by the
    columns derived from it (``derived[name]``, a name -> Column dict),
    then the lineage columns and a ``record_hash`` over exactly the
    cleaned columns — so the hash always covers what the row holds."""
    cols = []
    for name, col in cleaned.items():
        cols.append(col.alias(name))
        cols += [c.alias(n) for n, c in (derived or {}).get(name, {}).items()]
    return src.select(
        *cols,
        "ingested_at",
        "source_file",
        record_hash(list(cleaned.values())).alias("record_hash"),
    )


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
    return _staged(src, cleaned)


def stg_subscriptions(ctx: Context) -> DataFrame:
    """reference: models/staging/stg_subscriptions.sql:14-61"""
    src = _hwm_filter(ctx, ctx.source("raw", "subscriptions"), "stg_subscriptions")
    mrr = F.col("mrr_amount").cast("double")
    arr = F.col("arr_amount").cast("double")
    cleaned = {
        "subscription_id": trim_clean("subscription_id"),
        "account_id": trim_clean("account_id"),
        "start_date": F.col("start_date").cast("date"),
        "end_date": F.col("end_date").cast("date"),
        "plan_tier": empty_to_null("plan_tier"),
        "seats": F.col("seats").cast("int"),
        "mrr_amount_raw": mrr,
        "arr_amount_raw": arr,
        "is_trial": F.col("is_trial").cast("boolean"),
        "upgrade_flag": F.col("upgrade_flag").cast("boolean"),
        "downgrade_flag": F.col("downgrade_flag").cast("boolean"),
        "churn_flag": F.col("churn_flag").cast("boolean"),
        "billing_frequency": lower_norm("billing_frequency"),
        "auto_renew_flag": F.col("auto_renew_flag").cast("boolean"),
    }
    derived = {
        "arr_amount_raw": {
            "mrr_amount": negative_to_null(mrr),
            "arr_amount": negative_to_null(arr),
        }
    }
    return _staged(src, cleaned, derived)


def stg_support_tickets(ctx: Context) -> DataFrame:
    """reference: models/staging/stg_support_tickets.sql:7-48"""
    src = ctx.source("raw", "support_tickets")
    res_h = F.col("resolution_time_hours").cast("double")
    frt_m = F.col("first_response_time_minutes").cast("double")
    closed_at = F.col("closed_at").cast("timestamp")
    cleaned = {
        "ticket_id": trim_clean("ticket_id"),
        "account_id": trim_clean("account_id"),
        "submitted_at": F.col("submitted_at").cast("timestamp"),
        "closed_at": closed_at,
        "resolution_time_hours_raw": res_h,
        "priority": lower_norm("priority"),
        "first_response_time_minutes_raw": frt_m,
        "satisfaction_score": F.col("satisfaction_score").cast("double"),
        "escalation_flag": F.col("escalation_flag").cast("boolean"),
    }
    derived = {
        "resolution_time_hours_raw": {"resolution_time_hours": negative_to_null(res_h)},
        "first_response_time_minutes_raw": {
            "first_response_time_minutes": negative_to_null(frt_m)
        },
        "escalation_flag": {"is_closed": closed_at.isNotNull()},
    }
    return _staged(src, cleaned, derived)
