"""Interval (range) joins at scale.

A naive interval-overlap join is a theta join (``a.start <= b.end AND
b.start <= a.end``) — Spark plans it as a nested-loop, O(|L| x |R|) per
key. ``interval_overlap_join`` rewrites it as an EQUI join: every
interval explodes into the coarse calendar buckets it touches, sides
join on (keys, bucket) — hash-partitioned, linear-ish — then exact
bounds verify the overlap (bucket co-presence is necessary for overlap,
so no pairs are lost). Multi-bucket duplicates are eliminated by the
FIRST-SHARED-BUCKET rule, not a DISTINCT: a pair's minimal common
bucket is ``trunc(greatest(start_a, start_b))`` (each side's buckets
cover its own range, so the overlap start's bucket is on both sides,
and every shared bucket is >= it), so keeping only the row whose join
bucket equals it emits each pair exactly once — a filter in the join's
output stage instead of a pair-sized dedup exchange (r11 A/B: with the
shuffle_hash pin, sf1 1.46 -> 0.72 s; output bit-identical).

Grain picks the trade-off: buckets per interval ~ interval_length /
grain (explode factor), candidates per pair of sides ~ rows sharing a
bucket. Long-lived intervals (months+) explode wide at day grain — use
month; dense short intervals suit day. The SCD2 validity join (suite
J3) is the point-in-interval special case of the same rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import persist

_GRAINS = {"day": "1 day", "month": "1 month", "week": "1 week"}


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    grain: str = "month",
) -> DataFrame:
    """Overlapping (left, right) interval pairs per key.

    Both inputs need columns ``[*keys, id, start, end]`` (DATE bounds,
    end inclusive) with ``(*keys, id)`` unique per side — output pair
    multiplicity mirrors input multiplicity (the first-shared-bucket
    rule dedups the BUCKET fan-out, by design not input duplicates).
    Returns one row per overlapping pair with the overlap window:
    ``(*keys, id_a, id_b, overlap_start, overlap_end)``.

    Both exploded sides are corpus-sized, so the join carries the
    ``shuffle_hash`` pin (a post-explode side's size estimate is its
    PRE-explode scan bytes — the mis-broadcast class)."""
    step = _GRAINS[grain]

    def bucketed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            *keys,
            F.col("id").alias(f"id_{side}"),
            F.col("start").alias(f"start_{side}"),
            F.col("end").alias(f"end_{side}"),
            F.explode(
                F.expr(
                    f"sequence(date_trunc('{grain}', start),"
                    f" date_trunc('{grain}', end), interval {step})"
                )
            ).alias("_bucket"),
        )

    cands = bucketed(left, "a").join(
        bucketed(right, "b").hint("shuffle_hash"), [*keys, "_bucket"]
    )
    return cands.filter(
        (
            F.col("_bucket")
            == F.date_trunc(
                grain, F.greatest("start_a", "start_b").cast("timestamp")
            )
        )
        & (F.col("start_a") <= F.col("end_b"))
        & (F.col("start_b") <= F.col("end_a"))
    ).select(
        *keys,
        "id_a",
        "id_b",
        F.greatest("start_a", "start_b").alias("overlap_start"),
        F.least("end_a", "end_b").alias("overlap_end"),
    )


def max_concurrency(
    df: DataFrame, start_col: str, end_col: str, buckets: int = 32
) -> DataFrame:
    """Peak simultaneous intervals — "max concurrent sessions/users/
    jobs", the capacity-planning sweep: +1 at each start, −1 at each
    end (half-open [start, end): an interval ending at t frees its
    slot BEFORE one starting at t takes it), running-sum the deltas in
    time order, take the max. Pass INCLUSIVE ends as end+1.

    Shape: the event stream collapses to its distinct-second grid
    (groupBy, map-side combined — grid-bounded, never row-bounded),
    the two-pass ``ordered_prefix_sums`` (no global window), a 1-row
    max broadcast back for the deterministic argmin-time join. Exact
    integers end to end.

    Output (1 row): n_intervals, peak_concurrency, peak_at (epoch s,
    the earliest second the peak is reached)."""
    from .stats import ordered_prefix_sums

    s = (
        df.select(F.col(start_col).cast("long").alias("_t"))
        .groupBy("_t")
        .agg(F.count("*").alias("_ns"))
    )
    e = (
        df.select(F.col(end_col).cast("long").alias("_t"))
        .groupBy("_t")
        .agg(F.count("*").alias("_ne"))
    )
    g = (
        s.join(e, "_t", "full_outer")
        .select(
            "_t",
            (
                F.coalesce("_ns", F.lit(0)) - F.coalesce("_ne", F.lit(0))
            ).alias("_delta"),
            F.coalesce("_ns", F.lit(0)).alias("_nsc"),
        )
    )
    g = persist(ordered_prefix_sums(g, "_t", ["_delta"], buckets))
    peak = g.agg(
        F.max("cum__delta").alias("_peak"), F.sum("_nsc").alias("_n")
    )
    return (
        g.join(F.broadcast(peak), F.col("cum__delta") == F.col("_peak"))
        .agg(
            F.min("_n").alias("n_intervals"),
            F.min("_peak").alias("peak_concurrency"),
            F.min("_t").alias("peak_at"),
        )
    )
