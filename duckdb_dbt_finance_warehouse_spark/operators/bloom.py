"""Portable Bloom-filter semi-join — the runtime-filter pattern for big
joins at scale.

On a 1000-executor cluster the expensive part of ``fact JOIN dim`` is
shuffling the fact side; when the join is selective, most shuffled fact
rows never match. The fix every engine applies (Spark calls it a runtime
bloom filter, `spark.sql.optimizer.runtime.bloomFilter.enabled`) is to
build a tiny bit-set over the dim keys and drop non-matching fact rows
BEFORE the exchange. This module implements that pattern explicitly with
PORTABLE hashing (md5-derived bit positions), so the filter's exact
accept/reject decisions — including its deterministic false positives —
replay bit-for-bit in the DuckDB oracle, which an engine-private filter
never could.

Shape: the filter is STORED state — one row ``(m, words)``, the packed
m-bit bitmap, built JVM-side from the distinct build keys (no driver
collect, no literal text in the plan) and sized in-plan from their
count. It is broadcast into the probe stage, where each row's md5 is
split into two halves once and K word probes test its double-hashed bit
positions — no shuffle of the probe side, no Python. A probe row
survives iff all K of its bit positions are set: exactly Bloom
semantics, false-positive rate ~(1 - e^(-K*n/M))^K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import stored
from .sampling import md5_bits, md5_bits_sql

BLOOM_K = 4  # hash functions
BLOOM_M = 1 << 16  # minimum filter size in bits (m never sizes below this)
BLOOM_BITS_PER_KEY = 16  # target m/n; K=4 hashes -> FP ~ 0.24%
BLOOM_M_MAX = 1 << 20  # size bound: past it a real join is the right tool


def _bit(key: F.Column, j: int, m: F.Column) -> F.Column:
    """j-th portable bit position via Kirsch–Mitzenmacher double
    hashing: ONE md5 per key yields two independent 60-bit halves
    (h1 = digest[1:15], h2 = digest[17:31]); position_j =
    (h1 + j*h2) mod m. K positions share a single digest (the
    j-salted-md5-per-hash form paid K digests per row for the same
    asymptotic FP rate). h1 + 3*h2 < 2^62, no overflow."""
    return F.pmod(md5_bits(key, 1, 15) + F.lit(j) * md5_bits(key, 17, 15), m)


def bloom_words_frame(keys: DataFrame, key_col: str) -> DataFrame:
    """The filter as STORED state: ONE persisted row
    ``(_bloom_m long, _bloom_words array<long>)`` — the packed bitmap a
    runtime filter actually is on the wire — built entirely JVM-side (no
    driver collect) and ``persist()``-ed because a runtime filter over a
    stable build side IS precomputed state, the same lifecycle as the
    IVF centroid and LSH bucket tables (append == rebuild: re-deriving
    the frame from the same keys cache-matches the stored copy).

    Sizing: m is the smallest power of two >= BLOOM_BITS_PER_KEY *
    distinct keys, never below BLOOM_M. A fixed m degrades sharply past
    a few thousand keys (m=2^16 at 30k keys -> FP ~ 0.49 — a filter
    that passes half the non-matching rows); sizing by key count holds
    FP near (1 - e^(-K*n/m))^K ~ 0.24% at any build size. It is
    computed in-plan with integer CASE arms over the five legal
    power-of-two sizes (no float log2), and past ``BLOOM_M_MAX`` raises
    at materialization — beyond that a Bloom filter is the wrong tool.

    Memoized by (keys-plan semantics, key_col): the SAME build side
    recurs across invocations (bench warmup + timed run, repeated
    correctness checks), and rebuilding the frame's plan costs ~0.3s of pure
    py4j/Catalyst construction per call."""
    return stored(
        "bloom.words", keys, (key_col,), lambda: _build_words_frame(keys, key_col)
    )


def _build_words_frame(keys: DataFrame, key_col: str) -> DataFrame:
    k = F.col(key_col)
    distinct_keys = (
        keys.filter(k.isNotNull()).select(k.alias("_bk")).distinct()
    )
    sized = F.when(
        F.col("_n") * BLOOM_BITS_PER_KEY <= BLOOM_M, F.lit(BLOOM_M)
    )
    m = BLOOM_M << 1
    while m <= BLOOM_M_MAX:
        sized = sized.when(F.col("_n") * BLOOM_BITS_PER_KEY <= m, F.lit(m))
        m <<= 1
    sized = sized.otherwise(
        F.raise_error(
            F.concat(
                F.lit("bloom filter over "),
                F.col("_n").cast("string"),
                F.lit(
                    f" keys exceeds BLOOM_M_MAX={BLOOM_M_MAX};"
                    " use a real (broadcast) join"
                ),
            )
        )
    )
    m_frame = (
        distinct_keys.agg(F.count("*").alias("_n"))
        .select(sized.cast("long").alias("_bloom_m"))
    )
    bits = distinct_keys.crossJoin(F.broadcast(m_frame)).select(
        "_bloom_m",
        F.explode(
            F.array(
                *[
                    _bit(F.col("_bk"), j, F.col("_bloom_m"))
                    for j in range(BLOOM_K)
                ]
            )
        ).alias("bit"),
    )
    word_rows = bits.groupBy(
        "_bloom_m", F.shiftright("bit", 6).cast("int").alias("_w")
    ).agg(
        # F.shiftleft only takes a literal shift amount; call_function
        # dispatches to the SQL shiftleft, which accepts a Column.
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("bit") % 64).cast("int"),
            )
        ).alias("_word")
    )
    word_map = word_rows.groupBy("_bloom_m").agg(
        F.map_from_entries(F.collect_list(F.struct("_w", "_word"))).alias("_wm")
    )
    return (
        # left join (not crossJoin) so an EMPTY build side still yields
        # the 1-row all-zero bitmap (every probe row flags false) rather
        # than annihilating the probe.
        m_frame.join(F.broadcast(word_map), "_bloom_m", "left")
        .select(
            "_bloom_m",
            F.transform(
                F.sequence(
                    F.lit(0), F.shiftright("_bloom_m", 6).cast("int") - 1
                ),
                lambda i: F.coalesce(
                    F.col("_wm")[i], F.lit(0).cast("long")
                ),
            ).alias("_bloom_words"),
        )
    )


def _member_pred(h1: F.Column, h2: F.Column, m: F.Column, words: F.Column) -> F.Column:
    """Membership test against the stored words frame, from
    PRE-MATERIALIZED digest halves ``h1``/``h2`` (see
    ``bloom_contains``): K O(1) element_at word probes + bitwise AND,
    all built-in Columns (no parsed literal text, codegen-friendly).
    Taking the halves as columns matters: inside a short-circuiting
    ``t0 AND t1 AND ...`` only the first branch is unconditionally
    evaluated, so codegen's subexpression elimination cannot hoist an
    md5 shared by the later branches — computed inline, the digest was
    re-hashed K times per probe row (measured ~3x the flag cost at
    sf1)."""
    pred = None
    for j in range(BLOOM_K):
        h = F.pmod(h1 + F.lit(j) * h2, m)
        word = F.element_at(words, F.shiftright(h, 6).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (h % 64).cast("int")
        )
        test = word.bitwiseAND(mask) != 0
        pred = test if pred is None else pred & test
    return pred


def bloom_contains(
    probe: DataFrame, keys: DataFrame, probe_col: str, key_col: str,
    flag: str = "in_bloom",
) -> DataFrame:
    """``probe`` plus a boolean ``flag`` column: does ``probe_col`` pass
    the Bloom filter built over ``keys.key_col``? Flag form instead of
    filtering, for plans that need pass/fail counts side by side in ONE
    probe scan. The stored bitmap row is broadcast into the probe stage
    (1-row bound); the probe side is never shuffled.

    Failure contract: sizing happens in-plan, so a build side past
    ``BLOOM_M_MAX`` surfaces as a ``SparkRuntimeException`` (wrapping
    the "exceeds BLOOM_M_MAX ... use a real (broadcast) join" message)
    at FIRST MATERIALIZATION, not at construction. Callers that need
    fail-fast should count the distinct build keys first."""
    wf = bloom_words_frame(keys, key_col)
    flagged = (
        probe.crossJoin(F.broadcast(wf))
        # digest halves in their OWN projection so the md5 runs once per
        # probe row; conv() is not a collapse-cheap expression, so
        # CollapseProject keeps this below the K-test projection.
        .withColumn("_bh1", md5_bits(probe_col, 1, 15))
        .withColumn("_bh2", md5_bits(probe_col, 17, 15))
        .withColumn(
            flag,
            _member_pred(
                F.col("_bh1"),
                F.col("_bh2"),
                F.col("_bloom_m"),
                F.col("_bloom_words"),
            ),
        )
    )
    return flagged.drop("_bloom_m", "_bloom_words", "_bh1", "_bh2")


def bloom_oracle_m_sql(keys_sql: str, key_col: str) -> str:
    """DuckDB scalar replaying the filter size of the distinct key count:
    the smallest power of two >= BLOOM_BITS_PER_KEY * distinct keys
    (floor BLOOM_M, hard error past BLOOM_M_MAX — same raise as the
    Spark side). Wrap in a CTE and thread ``(SELECT m FROM <cte>)`` as
    ``m_sql`` into the bits/member helpers."""
    return f"""
      SELECT CASE WHEN min(p) IS NULL
                  THEN error('bloom filter build exceeds BLOOM_M_MAX; use a real join')
                  ELSE min(p) END AS m
      FROM (SELECT (CAST(1 AS BIGINT) << CAST(g AS INT)) AS p
            FROM unnest(range(16, 41)) t(g)) pw
      WHERE p >= greatest({BLOOM_M}, {BLOOM_BITS_PER_KEY} * (
              SELECT count(DISTINCT {key_col}) FROM ({keys_sql}) kc
              WHERE {key_col} IS NOT NULL))
        AND p <= {BLOOM_M_MAX}
    """


def bloom_oracle_bits_sql(
    keys_sql: str, key_col: str, m_sql: str = str(BLOOM_M)
) -> str:
    """DuckDB subquery producing the identical set-bit table from
    ``keys_sql`` (a subquery exposing ``key_col``). ``m_sql`` is the
    filter size — pass ``(SELECT m FROM <m-cte>)`` to replay the
    key-count-sized filter."""
    return f"""
      SELECT DISTINCT
             ({md5_bits_sql(key_col, 1, 15)} + j * {md5_bits_sql(key_col, 17, 15)})
               % ({m_sql}) AS bit
      FROM ({keys_sql}) k
      CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS j) hashes
      WHERE {key_col} IS NOT NULL
    """


def bloom_oracle_member_pred(
    probe_col: str, bits_cte: str, m_sql: str = str(BLOOM_M)
) -> str:
    """DuckDB predicate: all K bit positions of ``probe_col`` are set
    (membership test replaying the Spark semi-joins verbatim)."""
    tests = [
        f"(({md5_bits_sql(probe_col, 1, 15)} + {j} * {md5_bits_sql(probe_col, 17, 15)})"
        f" % ({m_sql})) IN (SELECT bit FROM {bits_cte})"
        for j in range(BLOOM_K)
    ]
    return " AND ".join(tests)
