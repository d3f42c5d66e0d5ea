"""Skew-handling primitives for hot-key shuffles.

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled``, on in the session factory);
these are the explicit tools for the cases AQE can't fix:

- ``salted_agg``  : two-stage aggregation for a groupBy with hot keys —
  stage 1 aggregates on (key, salt), stage 2 merges the per-salt partials.
  Correct for algebraic aggregates (sum/count/min/max).
- ``salted_join`` : replicate the small side per salt, salt the big side —
  an N-way fan-out that turns one hot partition into N even ones.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..state import persist


def with_salt(df: DataFrame, n_salts: int, col_name: str = "_salt") -> DataFrame:
    """Deterministic salt from a stable row hash (not rand() — keeps
    reruns and resumed stages reproducible)."""
    return df.withColumn(
        col_name, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-proof aggregation.

    ``aggs`` maps output name -> (merge_fn_name, stage1_agg_column), e.g.
    {"total": ("sum", F.sum("x")), "n": ("sum", F.count("*")),
     "mx": ("max", F.max("x"))}. Stage 1 shuffles on (keys, salt) — hot
    keys split across ``n_salts`` reducers; stage 2 merges |keys|x|salts|
    partials, which is tiny."""
    salted = with_salt(df, n_salts)
    stage1 = salted.groupBy(*keys, "_salt").agg(
        *[c.alias(name) for name, (_, c) in aggs.items()]
    )
    merge = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }
    return stage1.groupBy(*keys).agg(
        *[merge[fn](name).alias(name) for name, (fn, _) in aggs.items()]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Hot-key equi-join: salt the big side, replicate the small side
    across all salts (explode), join on (keys, salt). The small side
    grows n_salts x — use only when it stays broadcastable."""
    big_s = big.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in on]), F.lit(n_salts))
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_s.join(small_s, [*on, "_salt"], how).drop("_salt")


def skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Join-key skew diagnostic — the measurement that DECIDES whether
    ``salted_agg``/``salted_join`` (or AQE skew splitting) is needed at
    all: the ``top_k`` heaviest keys with their exact corpus share, and
    on every row the global skew ratio (heaviest key vs the mean key)
    so one glance answers "is this join safe to shuffle on this key".

    Exactness: share_ppm = (count·10⁶) div n_rows and skew_x_mean_ppm =
    (max_count·n_keys·10⁶) div n_rows are exact integer expressions —
    both engines rank and report identically; key ties break on the
    key's string form.

    Shape: one key-keyed count (map-side combined), a 1-row aggregate
    of the count table (key-grid volume, not corpus volume) broadcast
    back, and a TakeOrdered top-k. At 100 TB this is the same single
    shuffle the join under investigation would pay — run it on a
    hash_sample first if even that is too much."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").alias("n_rows_key")
    )
    totals = counts.agg(
        F.sum("n_rows_key").alias("_n_rows"),
        F.count("*").alias("_n_keys"),
        F.max("n_rows_key").alias("_max_count"),
    )
    return (
        counts.join(F.broadcast(totals))
        .select(
            "key",
            "n_rows_key",
            F.expr("(n_rows_key * 1000000) div _n_rows").alias("share_ppm"),
            F.col("_n_keys").alias("n_keys"),
            F.expr("(_max_count * _n_keys * 1000000) div _n_rows").alias(
                "skew_x_mean_ppm"
            ),
        )
        .orderBy(F.desc("n_rows_key"), F.asc("key"))
        .limit(top_k)
    )


def join_size_estimate(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """Pre-flight join sizing — the EXACT output cardinality of
    ``left ⋈ right`` on the given keys, computed WITHOUT running the
    join: collapse both sides to per-key counts and sum the products.
    Together with ``skew_report`` this is the go/no-go check before an
    expensive shuffle: output rows, the single worst key's
    contribution, and its share tell you whether to salt, filter, or
    rethink (a 10¹²-row result is cheaper to discover here than in a
    dead executor).

    Exact integers: join_rows = Σ_k na(k)·nb(k); worst-key share in
    ppm by integer cross-multiplication. The count-table join is
    key-grid volume on both sides — never row volume.

    Output (1 row): n_left, n_right, n_join_keys, join_rows,
    worst_key (string), worst_key_rows, worst_share_ppm."""
    a = left.groupBy(F.col(left_key).cast("string").alias("_k")).agg(
        F.count("*").alias("_na")
    )
    b = right.groupBy(F.col(right_key).cast("string").alias("_k")).agg(
        F.count("*").alias("_nb")
    )
    j = a.join(b, "_k").select(
        "_k", "_na", "_nb", (F.col("_na") * F.col("_nb")).alias("_prod")
    )
    j = persist(j)
    totals = j.agg(
        F.sum("_na").alias("_sna"),
        F.sum("_nb").alias("_snb"),
        F.count("*").alias("n_join_keys"),
        F.sum("_prod").alias("join_rows"),
        F.max("_prod").alias("_maxp"),
    )
    worst = (
        j.join(F.broadcast(totals.select("_maxp")), F.col("_prod") == F.col("_maxp"))
        .agg(F.min("_k").alias("worst_key"), F.min("_prod").alias("worst_key_rows"))
    )
    na = left.agg(F.count("*").alias("n_left"))
    nb = right.agg(F.count("*").alias("n_right"))
    return (
        totals.crossJoin(F.broadcast(worst))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_left",
            "n_right",
            "n_join_keys",
            "join_rows",
            "worst_key",
            "worst_key_rows",
            F.expr(
                "CASE WHEN join_rows > 0"
                " THEN (worst_key_rows * 1000000) div join_rows END"
            ).alias("worst_share_ppm"),
        )
    )
