"""MRR rules — the business logic of the reference's facts and waterfall
mart, written once for the models and for their oracle-paired suite
entries.

- J3 half-open SCD2 validity: dim_subscription.sql:39-48,
  fct_subscription_month.sql:123-138
- J4 first version backdated to 1900-01-01: fct_subscription_month.sql:131-137
- W2 zero-default lag (begin-of-month balance): fct_account_month.sql:79-84
- W3 "any prior qualifying row" flag: fct_account_month.sql:93-101
- M1 movement ladder: fct_account_month.sql:110-123
- M2 movement -> amount map: fct_account_month's ``*_mrr`` columns,
  mart_mrr_waterfall_month.sql:29-52

Two frame-level compositions of these rules are written here too, so
the warehouse runs the plan its oracle-paired entries prove:
``account_month_chain`` (fct_account_month.sql, M1) and
``waterfall_measures`` (mart_mrr_waterfall_month.sql, M2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from .dates import month_spine
from .money import exact_sum

NEW, REACTIVATION, CHURN, UPGRADE, DOWNGRADE = (
    "new", "reactivation", "churn", "upgrade", "downgrade"
)


def valid_at(at: Column, valid_from: Column, valid_to: Column) -> Column:
    """J3: ``at`` falls in [valid_from, valid_to); a NULL valid_to is open."""
    return (at >= valid_from) & (valid_to.isNull() | (at < valid_to))


def first_version_backdated(df: DataFrame, version: Column, valid_from: str) -> Column:
    """J4: ``valid_from`` with version 1 opened at 1900-01-01, so facts
    that predate an entity's first observed version still resolve. The
    literal takes the type of ``df``'s own ``valid_from`` column."""
    floor = F.lit("1900-01-01").cast(df.schema[valid_from].dataType)
    return F.when(version == 1, floor).otherwise(F.col(valid_from))


def lag_or_zero(c: Column | str, w: WindowSpec) -> Column:
    """W2: the previous row's value in ``w``, 0.0 on the first row."""
    return F.coalesce(F.lag(c).over(w), F.lit(0.0))


def ever_before(cond: Column, w: WindowSpec) -> Column:
    """W3: 1 if ``cond`` held on any EARLIER row of ``w`` (a ROWS frame
    that excludes the current row), else 0."""
    frame = w.rowsBetween(Window.unboundedPreceding, -1)
    return F.coalesce(F.max(F.when(cond, 1).otherwise(0)).over(frame), F.lit(0))


def movement_type(begin: Column, end: Column, delta: Column, paid_before: Column) -> Column:
    """M1: classify one account-month from its begin/end MRR, their
    delta and whether the account ever paid before."""
    return (
        F.when((begin == 0) & (end > 0) & ~paid_before, NEW)
        .when((begin == 0) & (end > 0) & paid_before, REACTIVATION)
        .when((begin > 0) & (end == 0), CHURN)
        .when((begin > 0) & (end > 0) & (delta > 0), UPGRADE)
        .when((begin > 0) & (end > 0) & (delta < 0), DOWNGRADE)
        .when((begin == 0) & (end == 0), "zero")
        .otherwise("no_change")
    )


def movement_amounts(mt: Column, begin: Column, end: Column, delta: Column) -> dict[str, Column]:
    """M2: the MRR each movement type moves, 0.0 for every other type,
    keyed by movement in waterfall order."""
    moved = {NEW: end, REACTIVATION: end, UPGRADE: delta, DOWNGRADE: F.abs(delta), CHURN: begin}
    return {k: F.when(mt == k, v).otherwise(0.0) for k, v in moved.items()}


def account_month_chain(
    rows: DataFrame, key: str, month: Column, amount: Column | str
) -> DataFrame:
    """M1 over per-row amounts: one row per ``key`` and month, from the
    key's first month through the month after its last (so a final
    churn is observable), with columns ``key``, ``month_start_date``,
    ``begin``, ``end``, ``delta`` and ``movement_type``. ``end`` is the
    exact sum of ``amount`` in the month, 0.0 in a month without rows.

    One shuffle builds the zero-filled spine: the (key, month) sums fold
    into a per-key map plus its first and last month, the month sequence
    is exploded and each month looks its sum up in the map. That
    groupBy leaves the rows hash-partitioned on ``key``, which is what
    the W2/W3 windows need, so they add no exchange (a bounds groupBy
    and a join back would cost two more). A map holds one entry per
    month with rows, calendar-bounded at any row scale."""
    by_month = rows.groupBy(key, month.alias("_m")).agg(exact_sum(amount).alias("_amount"))
    per_key = by_month.groupBy(key).agg(
        F.map_from_entries(F.collect_list(F.struct("_m", "_amount"))).alias("_by_month"),
        F.min("_m").alias("_first"),
        F.max("_m").alias("_last"),
    )
    month_start_date = F.col("month_start_date")
    spined = per_key.select(
        key,
        month_spine("_first", F.add_months("_last", 1)).alias("month_start_date"),
        "_by_month",
    ).select(
        key,
        month_start_date,
        F.coalesce(F.element_at("_by_month", month_start_date), F.lit(0.0)).alias("end"),
    )
    w = Window.partitionBy(key).orderBy(month_start_date)
    begin, end = F.col("begin"), F.col("end")
    flagged = spined.withColumn("begin", lag_or_zero(end, w)).withColumn(
        "_paid_before", ever_before(end > 0, w) == 1
    )
    return flagged.select(
        key,
        month_start_date,
        begin,
        end,
        (end - begin).alias("delta"),
        movement_type(begin, end, end - begin, F.col("_paid_before")).alias("movement_type"),
    )


def waterfall_measures(
    key: Column, mt: Column, begin: Column, end: Column, delta: Column
) -> dict[str, Column]:
    """M2: the waterfall's aggregates over account-month rows, keyed by
    measure in waterfall order: exact sums of ``begin``, ``end`` and each
    movement amount (``new``, ``reactivation``, ``expansion``,
    ``contraction``, ``churn``), then the conditional account counts,
    whose keys end in ``_accounts``. Each count is
    ``count(when(cond, key))``, equal to a ``countDistinct`` because
    (key, month) is unique on the input (``account_month_chain`` emits
    one row per pair) and, like it, skipping a NULL key. Counting rows
    keeps the rollup to one aggregate, where distinct counts add an
    Expand and a second shuffle."""
    amounts = movement_amounts(mt, begin, end, delta)
    names = {
        NEW: "new", REACTIVATION: "reactivation", UPGRADE: "expansion",
        DOWNGRADE: "contraction", CHURN: "churn",
    }
    counted = {
        "active_accounts": end > 0,
        "churned_accounts": mt == CHURN,
        "new_accounts": mt == NEW,
        "reactivated_accounts": mt == REACTIVATION,
    }
    return {
        "begin": exact_sum(begin),
        "end": exact_sum(end),
        **{names[k]: exact_sum(v) for k, v in amounts.items()},
        **{k: F.count(F.when(cond, key)) for k, cond in counted.items()},
    }
