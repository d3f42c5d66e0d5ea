"""Date kit — the calendar arithmetic the reference models use.

Reference citations:
- date_trunc('month', d)::date     -> dim_date.sql:21, fct_subscription_month.sql:47
- EOM = d + 1 month - 1 day        -> dim_date.sql:42-48  (Spark: last_day)
- month index since 1970-01-01     -> dim_date.sql:32
- strftime '%B' month name         -> dim_date.sql:40
- dbt_utils.date_spine (END-EXCLUSIVE day spine) -> dim_date.sql:9-13
- month spine per entity (J1)      -> fct_subscription_month.sql:56-64

Spines are generated with explode(sequence(...)) — an in-engine
generator, no driver-side loop, no nested-loop range join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def month_start(c: Column | str) -> Column:
    """First day of the month, as DATE (DuckDB date_trunc('month', d)::date)."""
    return F.trunc(_col(c), "month")


def date_kit(d: Column, m: Column) -> dict[str, Column]:
    """F11-F18: every dim_date derivation of the day ``d`` whose month
    start is ``m`` (``month_start(d)`` or a column already holding it),
    keyed by dim_date's column names, in its column order. The month
    index counts months since 1970-01-01 — integral on first-of-month
    dates, matching DuckDB's boundary-crossing datediff('month', ...)."""
    eom = F.last_day(d)
    return {
        "month_start_date": m,
        "month_index": F.months_between(m, F.lit("1970-01-01").cast("date")).cast("int"),
        "year": F.year(d),
        "quarter": F.quarter(d),
        "month": F.month(d),
        "year_month": (F.year(d) * 100 + F.month(d)).cast("int"),
        "month_name": F.date_format(d, "MMMM"),
        "month_end_date": eom,
        "is_month_start": d == m,
        "is_month_end": d == eom,
        "prev_month_start_date": F.add_months(m, -1),
        "next_month_start_date": F.add_months(m, 1),
    }


def month_starts(dim_date: DataFrame) -> DataFrame:
    """dim_date's month-start rows, as the one column ``month_start_date``.
    No distinct: dim_date has one row per day, so exactly one row per
    month has ``is_month_start``."""
    return dim_date.filter(F.col("is_month_start")).select("month_start_date")


def month_spine(first: Column | str, last: Column | str) -> Column:
    """J1: one row per month start in [first, last] (both month starts)
    — explode(sequence(..., interval 1 month)), linear in the output,
    in place of a nested-loop BETWEEN join against a calendar."""
    return F.explode(F.sequence(_col(first), _col(last), F.expr("interval 1 month")))


def date_spine(
    spark: SparkSession,
    start_date: str,
    end_date: str,
    end_exclusive: bool = True,
    col_name: str = "date_day",
) -> DataFrame:
    """One row per day in [start, end) — dbt_utils.date_spine semantics.

    ``sequence`` is end-INCLUSIVE in Spark, so the exclusive upper bound
    is ``end - 1 day``. Generated engine-side; at any scale this is a
    single tiny partition that should be broadcast into joins.
    """
    end_expr = (
        f"date_sub(to_date('{end_date}'), 1)" if end_exclusive else f"to_date('{end_date}')"
    )
    return spark.range(1).select(
        F.explode(
            F.expr(
                f"sequence(to_date('{start_date}'), {end_expr}, interval 1 day)"
            )
        ).alias(col_name)
    )
