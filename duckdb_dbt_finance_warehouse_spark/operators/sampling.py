"""Deterministic sampling / training-mix curation (SURVEY §7.6 family).

The operations a data pipeline runs to turn a raw corpus into a
training mix: Bernoulli sampling, per-stratum quotas, and weighted
mixture sampling — all DETERMINISTIC (hash-derived uniforms, no RNG):
reruns, retries, and different engines select the same rows, which is
what makes ablations and incremental re-mixes reproducible.

The uniform for a row is the first 8 hex digits of
``md5(salt ':' id)`` scaled to [0, 1) — engine-portable (md5 is
byte-identical everywhere; the arithmetic is exact integers / one
division), so every operator here is replayed bit-for-bit by the
DuckDB oracle.

Scale notes: hash_sample and mixture_sample are narrow maps (filter on
a computed column — no shuffle, no state); stratified_quota_sample is
one window shuffle on the stratum key, with WindowGroupLimit pushing
the per-stratum limit below the sort. None of them collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..state import shared

TWO_32 = float(1 << 32)


def md5_bits(c, start: int = 1, width: int = 15, salt: str | None = None) -> F.Column:
    """The md5-prefix integer key: hex digits ``start`` to
    ``start + width - 1`` of md5 over the value's string form, read as a
    bigint (``width`` <= 15 keeps it non-negative). With ``salt`` the
    digest covers ``salt:value``, and a NULL value hashes the bare salt
    (``concat_ws`` skips NULLs in both engines). ``c`` is a column name
    or a Column; ``md5_bits_sql`` is the DuckDB form."""
    x = (F.col(c) if isinstance(c, str) else c).cast("string")
    if salt is not None:
        x = F.concat_ws(":", F.lit(salt), x)
    return F.conv(F.substring(F.md5(x), start, width), 16, 10).cast("long")


def md5_bits_sql(expr: str, start: int = 1, width: int = 15, salt: str | None = None) -> str:
    """DuckDB form of ``md5_bits`` over the SQL expression ``expr``."""
    x = f"CAST({expr} AS VARCHAR)"
    if salt is not None:
        x = f"concat_ws(':', '{salt}', {x})"
    return f"('0x' || substr(md5({x}), {start}, {width}))::BIGINT"


def hash_uniform(id_col, salt: str = "s0") -> F.Column:
    """Deterministic uniform in [0, 1): the salted 32-bit ``md5_bits``
    / 2^32. Exact integer -> double division, identical in any engine.
    ``id_col`` is a column name or a Column expression."""
    return md5_bits(id_col, 1, 8, salt) / F.lit(TWO_32)


def hash_uniform_oracle_sql(id_col: str, salt: str = "s0") -> str:
    """DuckDB SQL for the identical uniform."""
    return f"({md5_bits_sql(id_col, 1, 8, salt)} / {TWO_32})"


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "s0"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose hash-uniform is
    below ``fraction``. Unlike ``df.sample()`` the selection is a pure
    function of (salt, id): stable across reruns, engines, partitionings
    and cluster sizes."""
    return df.withColumn("sample_u", hash_uniform(id_col, salt)).filter(
        F.col("sample_u") < fraction
    )


def stratified_quota_sample(
    df: DataFrame, id_col: str, stratum_col: str, n_per_stratum: int, salt: str = "s0"
) -> DataFrame:
    """Per-stratum quota: the ``n_per_stratum`` rows with the smallest
    hash-uniform in each stratum — a deterministic 'N examples per
    source/language' curation step. One window shuffle on the stratum;
    WindowGroupLimit prunes to the per-stratum top-N before the sort."""
    w = Window.partitionBy(stratum_col).orderBy(hash_uniform(id_col, salt), F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _cluster_group(df: DataFrame, pairs: DataFrame, id_col: str):
    """Shared group derivation for the leakage-aware split family:
    (df left-joined to clusters, group column) where group =
    cluster_id for clustered rows, else the row's own id.

    Integral ids keep the long-typed group (the judged entries' output
    schema); any other id type groups on STRINGS — coalescing a
    non-numeric id through cast('long') would yield NULL and silently
    collapse every unclustered row into ONE hash group."""
    from .dedup import dedup_clusters_frame

    # the cluster map is the stored dedup decision table — read the
    # memoized frame (a hit is guaranteed when ``pairs`` itself comes
    # from minhash_pairs_frame; a transient pair plan just misses)
    clusters = dedup_clusters_frame(pairs).withColumnRenamed("member_id", id_col)
    if dict(df.dtypes)[id_col] in _INTEGRAL:
        group = F.coalesce(F.col("cluster_id"), F.col(id_col).cast("long"))
    else:
        group = F.coalesce(
            F.col("cluster_id").cast("string"), F.col(id_col).cast("string")
        )
    return df.join(clusters, id_col, "left"), group


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    val_fraction: float,
    salt: str = "split0",
) -> DataFrame:
    """Leakage-safe train/val split: every member of a near-dup CLUSTER
    lands on the same side, so no evaluation example has a near-copy in
    the training set — the split discipline any dedup-aware training
    pipeline needs (hash-splitting raw doc ids would scatter a
    duplicated document across both sides and silently leak).

    ``pairs`` is a near-dup edge list (id_a, id_b) — typically MinHash
    LSH output. Clusters come from ``dedup.dedup_clusters`` (large-star/
    small-star connected components, O(log n) rounds); the split unit is
    ``split_group`` = cluster_id for clustered docs, else the doc's own
    id, and the side is the deterministic md5 uniform of the group — so
    the assignment is reproducible across engines, reruns, and corpus
    repartitionings, and every group member shares it by construction.

    Scale: the clusters frame is pair-volume (tiny vs the corpus), the
    join is a key join on the doc id, and the uniform is a narrow map —
    nothing collects, nothing is corpus-wide beyond the one join."""
    if not (0.0 <= val_fraction <= 1.0):
        raise ValueError(
            f"leakage_safe_split: val_fraction must be in [0, 1], got {val_fraction}"
        )
    joined, group = _cluster_group(df, pairs, id_col)
    u = hash_uniform(group, salt)
    return (
        joined.withColumn("split_group", group)
        .withColumn(
            "split", F.when(u < val_fraction, F.lit("val")).otherwise(F.lit("train"))
        )
        .drop("cluster_id")
    )


def kfold_split(
    df: DataFrame,
    id_col: str,
    k: int,
    salt: str = "fold0",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation:
    ``fold = floor(u * k)`` where u is the md5 hash uniform — stable
    across engines, reruns, and repartitionings, and uniform across
    folds in expectation.

    With ``pairs`` (a near-dup edge list), the fold unit becomes the
    connected-component cluster exactly as in ``leakage_safe_split`` —
    every near-duplicate lands in the same fold, so no CV fold
    evaluates on a near-copy of another fold's training data. Without
    ``pairs`` it is a plain per-id k-fold.

    Exactness: u = m/2^32 with m < 2^32, so u*k is exact in float64
    for any k < 2^20 and floor(u*k) replays identically in any engine.
    Scale: a narrow map (plus the pair-volume cluster join when
    leakage-aware)."""
    if k < 2:
        raise ValueError(f"kfold_split: k must be >= 2, got {k}")
    if pairs is not None:
        joined, group = _cluster_group(df, pairs, id_col)
        return (
            joined.withColumn("fold_group", group)
            .withColumn(
                "fold", F.floor(hash_uniform(F.col("fold_group"), salt) * k).cast("int")
            )
            .drop("cluster_id")
        )
    return df.withColumn(
        "fold", F.floor(hash_uniform(id_col, salt) * k).cast("int")
    )


def temperature_resample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    target_total: int,
    alpha: float = 0.5,
    salt: str = "s0",
    weight_scale: int = 1 << 20,
) -> DataFrame:
    """Temperature-reweighted mixture sampling: per-stratum keep rates
    proportional to ``count^alpha`` — the standard multilingual /
    multi-source rebalancing (alpha < 1 upsamples small strata relative
    to their raw share, the way training mixes temper head-heavy
    language or domain distributions).

    Math, kept engine-exact: stratum weight ``w_s = round(count_s^alpha
    * weight_scale)`` is an INTEGER (sums of weights are order-free),
    and the keep fraction is ``min(1, target_total * (w_s / W) /
    count_s)`` evaluated as a fixed sequence of IEEE double ops —
    bit-identical in any engine. alpha is restricted to {0.5, 1.0}
    because sqrt is correctly rounded under IEEE 754 (identical
    everywhere) while pow(x, a) is a transcendental whose last ulp is
    engine-specific; other temperatures would need a quantized pow
    table. Row selection is the usual deterministic md5 uniform.

    Scale: one tiny per-stratum aggregate (map-side combined), its
    1-row total, both broadcast back onto the corpus — the corpus
    itself sees one narrow filter, no shuffle, no collect."""
    if alpha not in (0.5, 1.0):
        raise ValueError(
            "temperature_resample: alpha must be 0.5 or 1.0 — sqrt is the only "
            "IEEE-exact fractional power, so other temperatures cannot be "
            "replayed bit-for-bit by a SQL oracle (quantize a pow table first)"
        )
    n_dbl = F.col("n_s").cast("double")
    w = F.sqrt(n_dbl) if alpha == 0.5 else n_dbl
    counts = (
        df.groupBy(stratum_col)
        .agg(F.count("*").alias("n_s"))
        .withColumn(
            "qw_s",
            F.floor(w * F.lit(float(weight_scale)) + F.lit(0.5)).cast("long"),
        )
    )
    total = counts.agg(F.sum("qw_s").alias("qw_total"))
    frac = F.least(
        F.lit(1.0),
        (F.col("qw_s").cast("double") * F.lit(float(target_total)))
        / F.col("qw_total").cast("double")
        / F.col("n_s").cast("double"),
    )
    rates = counts.crossJoin(F.broadcast(total)).select(
        stratum_col, "n_s", frac.alias("keep_fraction")
    )
    return (
        df.join(F.broadcast(rates), stratum_col)
        .withColumn("sample_u", hash_uniform(id_col, salt))
        .filter(F.col("sample_u") < F.col("keep_fraction"))
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    weights: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "s0",
) -> DataFrame:
    """Weighted mixture: per-stratum keep-fractions (e.g. upsample
    curated sources, downsample crawl) — the standard training-mix
    re-weighting, as a narrow deterministic filter."""
    frac = F.lit(float(default_fraction))
    for value, p in sorted(weights.items()):
        frac = F.when(F.col(stratum_col) == value, F.lit(float(p))).otherwise(frac)
    return df.withColumn("sample_u", hash_uniform(id_col, salt)).filter(
        F.col("sample_u") < frac
    )


def negative_pairs(
    df: DataFrame,
    id_col: str,
    label_col: str,
    anchors: DataFrame,
    k: int = 4,
    buckets: int = 8,
    salt: str = "neg0",
) -> DataFrame:
    """Deterministic random negative sampling for contrastive training:
    K differently-labeled negatives per anchor, WITHOUT the anchor x
    corpus cross join. Every candidate hashes into one of ``buckets``
    groups (md5-uniform), each anchor probes the single bucket its own
    hash picks, and the K winners are the lowest md5(anchor, candidate)
    values in that bucket — a pure equi-join on the bucket key plus a
    per-anchor top-k window.

    Scale: the join is bucket-keyed (co-partitioned, no broadcast of
    the corpus); per-anchor work is one bucket's population, so
    ``buckets`` ~ corpus/target_candidates holds it constant as the
    corpus grows. Selection is a pure function of (salt, ids): stable
    across engines, reruns and partitionings — the DuckDB oracle
    replays it exactly."""
    from pyspark.sql import Window

    cand_bucket = md5_bits(id_col, 1, 8, salt + "c") % buckets
    anch_bucket = md5_bits("anchor_id", 1, 8, salt + "a") % buckets
    cands = df.select(
        F.col(id_col).alias("cand_id"),
        F.col(label_col).alias("cand_label"),
        cand_bucket.alias("_b"),
    )
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
    ).withColumn("_b", anch_bucket)
    pick = F.md5(
        F.concat_ws(
            ":",
            F.lit(salt),
            F.col("anchor_id").cast("string"),
            F.col("cand_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("pick_key", "cand_id")
    return (
        a.join(cands, "_b")
        .filter(
            (F.col("cand_label") != F.col("anchor_label"))
            & (F.col("cand_id") != F.col("anchor_id"))
        )
        .withColumn("pick_key", pick)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "anchor_label", "cand_id", "cand_label", "rank")
    )


def importance_resample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col,
    n_buckets: int = 16384,
    scale: int = 4096,
    cap: int = 4,
    salt: str = "ir0",
) -> DataFrame:
    """DSIR-shaped importance resampling (Xie et al. 2023, 'Data
    Selection for Language Models via Importance Resampling'): estimate
    hashed-unigram distributions for a TARGET slice vs the whole
    corpus, weight every token bucket by the add-one-smoothed
    importance ratio, score each document, and keep it with probability
    proportional to its score — the standard trick for steering a crawl
    toward a high-quality target distribution without training a model.

    Engine-portable exactness (the deliberate deviation from the
    paper): DSIR multiplies per-token likelihood ratios (log-sum);
    floats/logs are summation-order-dependent and unverifiable
    cross-engine, so this variant scores by the ARITHMETIC mean of
    QUANTIZED ratios — per-bucket weight
    ``wq = ((ct+1)·(ns+B)·scale) div ((cs+1)·(nt+B))`` (exact bigint),
    doc score ``mq = Σwq div n_tokens``, and the keep decision is the
    exact integer comparison ``u32·scale < mq·(2^32 div cap)`` against
    the md5 uniform — bit-identical in DuckDB. Swap the weight table
    for trained log-ratio weights (broadcast join) and the plan is
    unchanged. Valid while nt·ns·scale < 2^63 — past ~10^12 tokens,
    estimate the distributions on a hash-sample of the corpus (the
    paper does exactly that).

    Shape: two token passes (weights, then scoring — production stores
    the weight table, the second pass is the steady state), each one
    guarded explode + map-side-combined aggregation; the weight table
    is B rows and BROADCASTS to the scoring join; nothing driver-side.

    ``target_col``: boolean Column marking the target slice.
    Output per doc: (id, n_tokens, imp_q, keep)."""
    from .text import tokens

    b = F.lit(n_buckets)
    # tokens() keeps only (id, tok) — carry the target flag inside a
    # struct id so one explode serves both the flagged and plain uses
    toks = tokens(
        df.select(
            F.struct(F.col(id_col).alias("_id"), target_col.cast("boolean").alias("_tgt")).alias("_k"),
            text_col,
        ),
        "_k",
        text_col,
    ).filter(F.col("tok") != "")
    bucket = md5_bits("tok", 1, 8, salt) % b
    # the weights aggregate and the scoring join both read the explode
    tb = shared(
        toks.select(
            F.col("_k._id").alias("_id"), F.col("_k._tgt").alias("_tgt"), bucket.alias("_bkt")
        )
    )
    counts = tb.groupBy("_bkt").agg(
        F.count("*").alias("_cs"),
        F.count_if(F.col("_tgt")).alias("_ct"),
    )
    totals = counts.agg(F.sum("_cs").alias("_ns"), F.sum("_ct").alias("_nt"))
    weights = (
        counts.join(F.broadcast(totals))
        .select(
            "_bkt",
            ((F.col("_ct") + 1) * (F.col("_ns") + b) * F.lit(scale)).alias("_num"),
            ((F.col("_cs") + 1) * (F.col("_nt") + b)).alias("_den"),
        )
        .select("_bkt", F.expr("_num div _den").alias("_wq"))
    )
    scored = (
        tb.join(F.broadcast(weights), "_bkt")
        .groupBy("_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("_wq").alias("_ws"))
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.expr("_ws div n_tokens").alias("imp_q"),
        )
    )
    u32 = md5_bits(id_col, 1, 8, salt)
    thresh = (1 << 32) // cap
    return scored.select(
        id_col,
        "n_tokens",
        "imp_q",
        (u32 * F.lit(scale) < F.col("imp_q") * F.lit(thresh)).alias("keep"),
    )
