"""As-of joins beyond the SCD2 validity-interval join (suite J3/J4).

``asof_nearest_prior``: classic as-of — attach the RIGHT row with the
greatest timestamp <= the left row's timestamp, per key. Implemented
shuffle-once with the union+window trick: tag both sides, union, sort
within key by time, propagate the last right-side payload forward with
``last(..., ignorenulls)``. No UDF, no range explosion; works at any
scale because it is a single window over the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_nearest_prior(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """For each left row: the most recent right row at-or-before its ts.

    union-tagged rows are windowed per key ordered by (ts, side) with
    right rows sorting BEFORE left rows at equal timestamps, so an exact
    tie matches (as-of <= semantics, like DuckDB ASOF JOIN / pandas
    merge_asof backward). When several right rows share (key, ts), the
    one with the greatest ``right_tiebreak`` (default: first payload
    column) wins — a deterministic choice where engines with native ASOF
    joins pick arbitrarily."""
    lcols = left.columns
    l_tag = left.select(
        *lcols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in payload_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_r_ts"),
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != key],
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in payload_cols],
        F.col(right_ts).alias("_r_ts"),
    ).select(*l_tag.columns)

    u = l_tag.unionByName(r_tag)
    tb = right_tiebreak or (payload_cols[0] if payload_cols else None)
    order = [F.col("_ts"), F.col("_side")]
    if tb is not None:
        # nulls first so a null payload never shadows a real one
        order.append(F.asc_nulls_first(f"_r_{tb}"))
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        *[c for c in u.columns if not c.startswith("_r_")],
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in payload_cols
        ],
        F.last("_r_ts", ignorenulls=True).over(w).alias("asof_ts"),
    )
    return filled.filter(F.col("_side") == 1).drop("_ts", "_side")

