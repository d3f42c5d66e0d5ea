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
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

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
