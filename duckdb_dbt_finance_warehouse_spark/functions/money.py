"""Deterministic money aggregation.

Money in the reference is DOUBLE (stg_subscriptions.sql:25-28) with
1e-4 reconciliation tolerance (tests/test_waterfall_ties_out.sql:20-22).
Plain double SUM is order-dependent — different partitionings (or
different engines) produce last-ulp differences, which breaks exact
value-hash comparison against an oracle and makes reruns non-reproducible.

``exact_sum`` makes the sum order-independent by summing integers:

- fast path (default): round each value to a scaled integer with pure
  double arithmetic ``floor(x * 10^scale + 0.5)`` (identical IEEE ops in
  every engine — no BigDecimal, stays in whole-stage codegen; measured
  ~2.5x faster than the decimal path), sum as LONG, divide back.
  OVERFLOW ENVELOPE: correct while |sum of scaled values| < 2^63, i.e.
  group sums below ~9.2e14 at scale=4 / ~9.2e12 at scale=6. Fine for
  any real monetary rollup; NOT fine for petabyte-scale global sums of
  large measures.
- wide path (``wide=True``): DECIMAL(18+,scale) accumulation — exact at
  any cardinality (decimal sums get 38-digit accumulators). Use for
  100 TB-scale global aggregates where the envelope above is exceeded.

``scale`` must cover the expression's TRUE decimal precision: a
2dp*2dp*2dp product has 6 real decimals -> scale=6; rounding below the
true precision lands on .5 ties that engines break differently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def exact_sum(c: Column | str, scale: int = 4, wide: bool = False) -> Column:
    """Order-independent SUM of a money double, returned as double."""
    col = _col(c)
    if wide:
        return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")
    s = 10 ** scale
    return (F.sum(F.floor(col * s + F.lit(0.5))) / F.lit(float(s))).cast("double")


def exact_sum_scaled(c: Column | str, scale: int = 4) -> Column:
    """SUM as the scaled LONG itself (no divide-back) — for plans that
    keep aggregating the result (e.g. window frames over pre-aggregated
    money: integer sums stay order-independent through any frame
    evaluation strategy — running accumulator, segment tree, re-scan —
    where a double sum would not). Divide by 10^scale at presentation."""
    col = _col(c)
    return F.sum(F.floor(col * (10 ** scale) + F.lit(0.5)).cast("long"))


def exact_avg(c: Column | str, scale: int = 4, wide: bool = False) -> Column:
    """AVG as exact-sum / count — deterministic to the last bit."""
    col = _col(c)
    if wide:
        return (F.sum(col.cast(f"decimal(18,{scale})")).cast("double") / F.count(col)).cast(
            "double"
        )
    s = 10 ** scale
    return (
        (F.sum(F.floor(col * s + F.lit(0.5))) / F.lit(float(s))) / F.count(col)
    ).cast("double")
