"""Date kit — the calendar arithmetic the reference models use.

Reference citations:
- date_trunc('month', d)::date     -> dim_date.sql:21, fct_subscription_month.sql:47
- EOM = d + 1 month - 1 day        -> dim_date.sql:42-48  (Spark: last_day)
- month index since 1970-01-01     -> dim_date.sql:32
- strftime '%B' month name         -> dim_date.sql:40
- dbt_utils.date_spine (END-EXCLUSIVE day spine) -> dim_date.sql:9-13

The spine is generated with explode(sequence(...)) — a constant-folded
in-engine generator, no driver-side loop, no nested-loop range join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def month_start(c: Column | str) -> Column:
    """First day of the month, as DATE (DuckDB date_trunc('month', d)::date)."""
    return F.trunc(_col(c), "month")


def end_of_month(c: Column | str) -> Column:
    return F.last_day(_col(c))


def add_months(c: Column | str, n: int) -> Column:
    return F.add_months(_col(c), n)


def month_index(c: Column | str, epoch: str = "1970-01-01") -> Column:
    """Months elapsed since ``epoch`` — integral on first-of-month dates,
    matching DuckDB's boundary-crossing datediff('month', ...)."""
    return F.months_between(_col(c), F.lit(epoch).cast("date")).cast("int")


def month_name(c: Column | str) -> Column:
    return F.date_format(_col(c), "MMMM")


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
