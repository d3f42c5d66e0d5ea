"""Monthly-grain facts (reference: models/reporting/facts/*.sql).

Key Spark-first choices:

- The subscription->active-months expansion (J1) is
  ``explode(sequence(start_month, end_month, 1 month))`` — linear
  generator, no nested-loop BETWEEN join; clamped to the processed month
  window so incremental runs only generate restated months.
- SCD2 dimension attachment (J3/J4) is an equi+interval join against the
  month-truncated validity windows, with the earliest version backdated
  to 1900-01-01 so pre-observation facts still resolve.
- Incremental runs recompute a rolling ``reprocess_months`` window and
  land via dynamic partition overwrite on ``month_start_date``.
- Deviations from the reference (deliberate, documented):
  A1 — reads the deduped ``int_subscriptions_current`` view, not the
  append-only ``stg_subscriptions`` arrival log (the reference fans out
  duplicates with >1 batch: fct_subscription_month.sql:41).
  A2 — ``fct_account_month`` computes its windows (lag / has_paid_before)
  over FULL history and only then restricts to the restatement window;
  the reference truncates first and misclassifies the window's left edge
  (fct_account_month.sql:14-23 feeding :37-47).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dates import month_spine, month_starts
from ..functions.mrr import (
    account_month_chain, first_version_backdated, movement_amounts, valid_at,
)
from ..plans.registry import Context


def _month_cutoff(ctx: Context, model_name: str) -> object | None:
    """Incremental restatement cutoff: trunc(month, max(target month) -
    reprocess_months). One-row driver collect, then a pushed-down filter."""
    if not ctx.is_incremental(model_name):
        return None
    reprocess = int(ctx.var("reprocess_months", 2))
    row = (
        ctx.this(model_name)
        .agg(F.trunc(F.add_months(F.max("month_start_date"), -reprocess), "month").alias("c"))
        .first()
    )
    return row["c"] if row else None


def _scd2_month_dim(
    dim: DataFrame, natural_key: str, key_col: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Month-truncated SCD2 validity + first-version backdating per
    entity (reference: fct_subscription_month.sql:102-121).

    DOCUMENTED DEVIATION (the A2 rule — the reference contradicts its
    own declared grain-unique test here): the reference backdates EVERY
    version whose valid_from month equals the entity's first month, so
    two versions opening inside the first month BOTH cover all history
    months and duplicate the fact grain. Backdating only the EARLIEST
    version (row_number 1 by true valid_from) keeps pre-history months
    on exactly one version and is identical whenever the first month
    holds a single version — the only case the reference's own fixtures
    exercise. ``extra_cols`` ride along so callers don't re-read and
    re-join the dimension just to fetch another attribute."""
    d = dim.select(
        natural_key,
        key_col,
        *extra_cols,
        F.col("valid_from").alias("_vf"),
        F.trunc("valid_from", "month").alias("valid_from_month"),
        F.when(
            F.col("valid_to").isNull(), F.lit(None).cast("date")
        ).otherwise(F.trunc("valid_to", "month")).alias("valid_to_month"),
    )
    w = Window.partitionBy(natural_key).orderBy("_vf", key_col)
    d = d.withColumn("_rn", F.row_number().over(w))
    return d.withColumn(
        "effective_valid_from_month",
        first_version_backdated(d, F.col("_rn"), "valid_from_month"),
    ).drop("_vf", "_rn")


def _valid_in_month(f: str, d: str, key: str) -> Column:
    """Join condition of fact alias ``f`` onto month dim alias ``d``
    (``_scd2_month_dim``): equal ``key`` and the version valid (J3) at
    the fact's month."""
    return (F.col(f"{d}.{key}") == F.col(f"{f}.{key}")) & valid_at(
        F.col(f"{f}.month_start_date"),
        F.col(f"{d}.effective_valid_from_month"),
        F.col(f"{d}.valid_to_month"),
    )


def fct_subscription_month(ctx: Context) -> DataFrame:
    months = month_starts(ctx.ref("dim_date"))
    cutoff = _month_cutoff(ctx, "fct_subscription_month")
    if cutoff is not None:
        months = months.filter(F.col("month_start_date") >= F.lit(cutoff))

    bounds = months.agg(
        F.min("month_start_date").alias("min_month"),
        F.max("month_start_date").alias("max_month"),
    )

    subs = ctx.ref("int_subscriptions_current").select(
        "subscription_id", "account_id", "start_date", "end_date", "is_trial", "mrr_amount"
    )

    # month expansion: clamp [start_month, end_month] to the processed
    # window, then explode a month sequence (no BETWEEN nested-loop join)
    bounded = (
        subs.crossJoin(F.broadcast(bounds))
        .withColumn("start_month", F.trunc("start_date", "month"))
        .withColumn(
            "end_month",
            F.least(
                F.trunc(F.coalesce("end_date", "max_month"), "month"), F.col("max_month")
            ),
        )
        .withColumn("gen_start", F.greatest("start_month", "min_month"))
        .filter(F.col("gen_start") <= F.col("end_month"))
    )
    spine = bounded.select(
        "subscription_id",
        "account_id",
        "start_date",
        "end_date",
        "is_trial",
        "mrr_amount",
        month_spine("gen_start", "end_month").alias("month_start_date"),
    ).withColumn("next_month_start_date", F.add_months("month_start_date", 1))

    eom = F.date_sub(F.col("next_month_start_date"), 1)
    is_active_at_eom = (F.col("start_date") < F.col("next_month_start_date")) & (
        F.col("end_date").isNull() | (F.col("end_date") >= eom)
    )
    base = spine.select(
        "month_start_date",
        "subscription_id",
        "account_id",
        F.col("start_date").alias("subscription_start_date"),
        F.col("end_date").alias("subscription_end_date"),
        is_active_at_eom.alias("is_active_at_eom"),
        (F.trunc("start_date", "month") == F.col("month_start_date")).alias("is_start_month"),
        (
            F.col("end_date").isNotNull()
            & (F.trunc("end_date", "month") == F.col("month_start_date"))
        ).alias("is_end_month"),
        F.when(
            is_active_at_eom & ~F.coalesce(F.col("is_trial"), F.lit(False)),
            F.coalesce("mrr_amount", F.lit(0.0)),
        )
        .otherwise(0.0)
        .alias("mrr_amount"),
    )

    # account_key rides through the dim pass (extra_cols) — the old
    # form re-read dim_subscription and self-joined it on
    # subscription_key just to fetch one column
    sub_dim = _scd2_month_dim(
        ctx.ref("dim_subscription"), "subscription_id", "subscription_key",
        extra_cols=("account_key",),
    ).withColumnRenamed("account_key", "subscription_account_key")
    acct_dim = _scd2_month_dim(ctx.ref("dim_account"), "account_id", "account_key")

    f = base.alias("f")
    sd = F.broadcast(sub_dim.alias("sd"))
    with_sub = f.join(sd, _valid_in_month("f", "sd", "subscription_id"), "left").select(
        "f.*", "sd.subscription_key", "sd.subscription_account_key"
    )

    w = with_sub.alias("w")
    ad = F.broadcast(acct_dim.alias("ad"))
    final = w.join(ad, _valid_in_month("w", "ad", "account_id"), "left").select(
        F.col("w.subscription_key"),
        F.coalesce("w.subscription_account_key", "ad.account_key").alias("account_key"),
        F.col("w.subscription_id"),
        F.col("w.account_id"),
        F.col("w.month_start_date"),
        F.col("w.mrr_amount"),
        F.col("w.is_active_at_eom"),
        F.col("w.is_start_month"),
        F.col("w.is_end_month"),
        F.col("w.subscription_start_date"),
        F.col("w.subscription_end_date"),
    )
    return final


def fct_account_month(ctx: Context) -> DataFrame:
    # A2 fix: spine + windows over FULL history; restrict at the end.
    # The dim_date semi-join (the reference's JOIN months) runs after the
    # windows: the only spine month it can drop is an account's trailing
    # +1 month past dim_date's end, the last row of its window partition,
    # so no other row's lag or prior-paid flag changes.
    chain = account_month_chain(
        ctx.ref("fct_subscription_month"), "account_id", F.col("month_start_date"),
        F.coalesce("mrr_amount", F.lit(0.0)),
    ).join(F.broadcast(month_starts(ctx.ref("dim_date"))), "month_start_date", "left_semi")
    classified = chain.select(
        "account_id",
        "month_start_date",
        F.col("begin").alias("mrr_begin_mrr"),
        F.col("end").alias("mrr_end_mrr"),
        F.col("delta").alias("mrr_delta"),
        "movement_type",
    )
    begin, end, delta = F.col("c.mrr_begin_mrr"), F.col("c.mrr_end_mrr"), F.col("c.mrr_delta")

    acct_dim = _scd2_month_dim(ctx.ref("dim_account"), "account_id", "account_key")
    c = classified.alias("c")
    ad = F.broadcast(acct_dim.alias("ad"))
    final = c.join(ad, _valid_in_month("c", "ad", "account_id"), "left").select(
        F.col("ad.account_key"),
        F.col("c.account_id"),
        F.col("c.month_start_date"),
        F.col("c.mrr_begin_mrr"),
        F.col("c.mrr_end_mrr"),
        F.col("c.mrr_delta"),
        F.col("c.movement_type"),
        *[
            amount.alias(f"{k}_mrr")
            for k, amount in movement_amounts(F.col("c.movement_type"), begin, end, delta).items()
        ],
    )

    cutoff = _month_cutoff(ctx, "fct_account_month")
    if cutoff is not None:
        final = final.filter(F.col("month_start_date") >= F.lit(cutoff))
    return final
