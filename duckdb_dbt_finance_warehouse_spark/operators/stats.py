"""Exact-sum numeric statistics (SURVEY §7.6 pipeline hygiene).

Pearson correlation over N columns usually needs N(N+1)/2 floating
sums, each summation-order-dependent — unverifiable cross-engine. Here
every moment (Σx, Σx², Σxy) is an EXACT int64 sum of scaled-integer
per-row products (scales chosen so the largest sum stays < 2^63 at the
target SF), cast ONCE to double, and the correlation is a fixed IEEE
expression over those identical doubles — bit-identical in any engine.

Scale: all moments accumulate in ONE grouped pass over the scan
(map-side combine, no shuffle of row data, a single 1-row result); the
pair matrix explodes from that row, so the corpus is scanned exactly
once regardless of how many column pairs are requested.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import persist


def corr_matrix(df: DataFrame, cols: list[tuple[str, int]]) -> DataFrame:
    """Pairwise Pearson correlations for ``cols`` = [(name, scale)]:
    each column is quantized to ``floor(x * scale + 0.5)`` (pick scales
    so Σ(scaled²) < 2^63 at your SF — integral columns take scale 1).
    Output: (col_a, col_b, n_rows, corr), one row per unordered pair.

    corr = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²)),
    evaluated in double on exactly-summed operands; the DuckDB oracle
    spells the identical expression, so results match bit-for-bit."""
    names = [c for c, _ in cols]
    scaled = df.select(
        *[
            F.floor(F.col(c) * F.lit(s) + F.lit(0.5)).cast("long").alias(c)
            for c, s in cols
        ]
    )
    aggs = [F.count("*").alias("_n")]
    for c in names:
        aggs.append(F.sum(c).alias(f"_s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"_ss_{c}"))
    for a, b in combinations(names, 2):
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"_sp_{a}_{b}"))
    m = scaled.agg(*aggs)

    def corr_expr(a: str, b: str) -> F.Column:
        n = F.col("_n").cast("double")
        sa, sb = F.col(f"_s_{a}").cast("double"), F.col(f"_s_{b}").cast("double")
        ssa, ssb = F.col(f"_ss_{a}").cast("double"), F.col(f"_ss_{b}").cast("double")
        sp = F.col(f"_sp_{a}_{b}").cast("double")
        num = n * sp - sa * sb
        den = F.sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb))
        return F.round(num / den, 6)

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("_n").alias("n_rows"),
                corr_expr(a, b).alias("corr"),
            )
            for a, b in combinations(names, 2)
        ]
    )
    return m.select(F.explode(pairs).alias("_r")).select("_r.*")


def corr_matrix_oracle_sql(
    src: str, cols: list[tuple[str, int]], where: str = "TRUE"
) -> str:
    """DuckDB replay: identical scaled int64 sums (CAST the HUGEINT
    totals back to BIGINT — values fit by scale design), identical
    double expression."""
    names = [c for c, _ in cols]
    sums = ["CAST(count(*) AS BIGINT) AS _n"]
    for c, s in cols:
        sums.append(f"CAST(SUM(_q_{c}) AS BIGINT) AS _s_{c}")
        sums.append(f"CAST(SUM(_q_{c} * _q_{c}) AS BIGINT) AS _ss_{c}")
    for a, b in combinations(names, 2):
        sums.append(f"CAST(SUM(_q_{a} * _q_{b}) AS BIGINT) AS _sp_{a}_{b}")
    quants = ", ".join(
        f"CAST(floor({c} * {s} + 0.5) AS BIGINT) AS _q_{c}" for c, s in cols
    )
    selects = []
    for a, b in combinations(names, 2):
        expr = (
            f"round((CAST(_n AS DOUBLE) * CAST(_sp_{a}_{b} AS DOUBLE)"
            f" - CAST(_s_{a} AS DOUBLE) * CAST(_s_{b} AS DOUBLE))"
            f" / sqrt((CAST(_n AS DOUBLE) * CAST(_ss_{a} AS DOUBLE)"
            f" - CAST(_s_{a} AS DOUBLE) * CAST(_s_{a} AS DOUBLE))"
            f" * (CAST(_n AS DOUBLE) * CAST(_ss_{b} AS DOUBLE)"
            f" - CAST(_s_{b} AS DOUBLE) * CAST(_s_{b} AS DOUBLE))), 6)"
        )
        selects.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, _n AS n_rows,"
            f" {expr} AS corr FROM m"
        )
    return (
        f"WITH q AS (SELECT {quants} FROM {src} WHERE {where}),\n"
        f"m AS (SELECT {', '.join(sums)} FROM q)\n"
        + "\nUNION ALL\n".join(selects)
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    window: int = 10,
    min_points: int = 5,
    z_threshold: float = 3.0,
    scale: int = 10_000,
) -> DataFrame:
    """Streaming-shaped anomaly detection: each value is z-scored
    against the TRAILING ``window`` observations of its key (current
    row excluded — a spike must not dilute its own baseline); |z| >=
    ``z_threshold`` flags the anomaly, and keys with fewer than
    ``min_points`` trailing observations emit z = NULL (cold start).

    Exactness: values quantize to ``scale`` ints, the frame sums
    (Σv, Σv²) are exact longs over a deterministic ROWS frame, and
    z = (v − μ)/σ evaluates as one fixed IEEE expression over those
    exact ints — bit-identical in the DuckDB oracle (pick ``scale``
    so window·max(v·scale)² < 2^63).

    Shape: ONE key-partitioned window exchange computes both frame
    sums; everything else is a narrow projection. At 100 TB this is
    the same single shuffle the sessionizer pays, keyed on the entity
    id."""
    from pyspark.sql import Window as W

    vq = F.floor(F.col(value_col) * F.lit(scale) + F.lit(0.5)).cast("long")
    frame = (
        W.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-window, -1)
    )
    base = df.withColumn("_vq", vq).select(
        key_col,
        *order_cols,
        F.col(value_col),
        "_vq",
        F.count("_vq").over(frame).alias("_n"),
        F.sum("_vq").over(frame).alias("_s"),
        F.sum(F.col("_vq") * F.col("_vq")).over(frame).alias("_ss"),
    )
    n = F.col("_n").cast("double")
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    mean = s / n
    var = (n * ss - s * s) / (n * n)
    z = F.when(
        (F.col("_n") >= min_points) & ((n * ss - s * s) > 0),
        F.round((F.col("_vq").cast("double") - mean) / F.sqrt(var), 6),
    )
    return base.select(
        key_col,
        *order_cols,
        value_col,
        F.col("_n").alias("n_trailing"),
        z.alias("z"),
        F.when(z.isNull(), F.lit(False)).otherwise(
            F.abs(z) >= F.lit(z_threshold)
        ).alias("is_anomaly"),
    )


def ordered_prefix_sums(
    df: DataFrame, order_col: str, sum_cols: list[str], buckets: int = 32
) -> DataFrame:
    """Inclusive prefix sums of ``sum_cols`` in ``order_col`` order,
    WITHOUT a global window (the house rule: ``Window.orderBy`` with no
    partition key funnels every row through one task). The house
    two-pass form, written once here (``maintenance.compaction_plan``
    and the stats/interval/text callers use it; ``graph._bucket_ranks``
    is its row-number twin):

    1. range-partition into ``buckets`` ordered buckets
       (``repartitionByRange`` keeps bucket i's keys <= bucket i+1's),
    2. bucket-partitioned windows compute LOCAL cumulative sums,
    3. per-bucket totals collapse to one row and an O(buckets²)
       higher-order fold produces exclusive bucket offsets — no
       window, no nested-loop join,
    4. a broadcast join adds the offsets back.

    AQE may coalesce the range exchange; coalescing merges only
    ADJACENT range partitions, so buckets stay range-contiguous and
    the local-cumsum + offset decomposition stays exact.

    ``order_col`` values must be UNIQUE (aggregate first — callers here
    all feed a per-distinct-value grouped table); with ties a ROWS
    running sum would be partition-order-dependent. Appends
    ``cum_<c>`` (long) per requested column."""
    from pyspark.sql import Window as W

    bucketed = df.repartitionByRange(buckets, F.col(order_col)).withColumn(
        "_bucket", F.spark_partition_id()
    )
    # consumed by the local-cumsum window AND the totals aggregate AND
    # the final join — persist the (value-grid-bounded) grouped rows
    bucketed = persist(bucketed)
    w = (
        W.partitionBy("_bucket")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = bucketed.select(
        "*", *[F.sum(c).over(w).alias(f"_local_{c}") for c in sum_cols]
    )
    totals = bucketed.groupBy("_bucket").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    )
    offsets = (
        totals.agg(
            F.sort_array(
                F.collect_list(F.struct("_bucket", *[f"_t_{c}" for c in sum_cols]))
            ).alias("_ts")
        )
        .select(
            F.explode(
                F.expr(
                    "transform(_ts, (t, i) -> struct(t._bucket AS _bucket, "
                    + ", ".join(
                        f"aggregate(slice(_ts, 1, i), 0L, (acc, x) -> acc + x._t_{c})"
                        f" AS _off_{c}"
                        for c in sum_cols
                    )
                    + "))"
                )
            ).alias("_o")
        )
        .select("_o.*")
    )
    out = local.join(F.broadcast(offsets), "_bucket")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_local_{c}") + F.col(f"_off_{c}"))
    return out.drop(
        "_bucket", *[f"_local_{c}" for c in sum_cols], *[f"_off_{c}" for c in sum_cols]
    )


def auc_exact(
    df: DataFrame, score_col: str, label_col: str, buckets: int = 32
) -> DataFrame:
    """Exact ROC-AUC (Mann-Whitney U with the standard half-credit for
    ties) of an integer score against a boolean label — the evaluation
    half of the quality-classifier story (train filters with
    ``text.quality_classifier``-shaped models, then CHECK that the
    score separates a held-out label before trusting it on 100 TB).

    Identity: 2·U = Σ_s pos_s · (2·neg_below(s) + neg_s) over distinct
    scores s, AUC = U / (n_pos·n_neg). All sums are exact bigints (one
    double division at the end), so the DuckDB oracle replays the value
    bit-for-bit. Valid while n_pos·n_neg < 2^62 (~2·10^9 rows per
    class) — past that, pre-bucket scores or accept the double path.

    Shape: one groupBy collapses the corpus to its DISTINCT-score grid
    (bounded by the score quantization, NOT the corpus — map-side
    combine does the heavy lifting), then the two-pass prefix sum and a
    single-row aggregate. No global window, nothing driver-side.

    Output (1 row): n_pos, n_neg, n_scores, u2, auc."""
    lbl = F.col(label_col).cast("boolean")
    g = df.groupBy(F.col(score_col).cast("long").alias("_score")).agg(
        F.sum(F.when(lbl, 1).otherwise(0)).cast("long").alias("_pos"),
        F.sum(F.when(lbl, 0).otherwise(1)).cast("long").alias("_neg"),
    )
    g = ordered_prefix_sums(g, "_score", ["_neg"], buckets)
    return (
        g.agg(
            F.sum("_pos").alias("n_pos"),
            F.sum("_neg").alias("n_neg"),
            F.count("*").alias("n_scores"),
            F.sum(
                F.col("_pos") * (2 * (F.col("cum__neg") - F.col("_neg")) + F.col("_neg"))
            ).alias("u2"),
        )
        .select(
            "n_pos",
            "n_neg",
            "n_scores",
            "u2",
            (
                F.col("u2").cast("double")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
            ).alias("auc"),
        )
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    part_col: str,
    part_a: str,
    part_b: str,
    buckets: int = 32,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    ``value_col`` distributions of two corpus slices — the
    distribution-drift gate a pipeline runs before mixing a new crawl
    snapshot into the training set (did the length/score distribution
    shift?).

    D = max_v |F_a(v) − F_b(v)| evaluated cross-multiplied in exact
    bigints: d_num = max |cum_a(v)·n_b − cum_b(v)·n_a|, D = d_num /
    (n_a·n_b) — one double division at the end, so the oracle replays
    bit-for-bit. Valid while n_a·n_b < 2^63 (~3·10^9 rows per slice);
    past that, divide the counts by a common factor first.

    Shape: groupBy collapses both slices to the distinct-value grid in
    ONE scan, two-pass prefix sums (no global window), a 1-row
    broadcast of the totals, a 1-row broadcast of the max back onto the
    grid to recover WHERE the gap peaks (min value on ties —
    deterministic).

    Output (1 row): n_a, n_b, d_num, ks_at (value of max gap), ks."""
    p = F.col(part_col)
    g = (
        df.filter(p.isin(part_a, part_b))
        .groupBy(F.col(value_col).cast("long").alias("_v"))
        .agg(
            F.sum(F.when(p == part_a, 1).otherwise(0)).cast("long").alias("_ca"),
            F.sum(F.when(p == part_b, 1).otherwise(0)).cast("long").alias("_cb"),
        )
    )
    g = ordered_prefix_sums(g, "_v", ["_ca", "_cb"], buckets)
    totals = g.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    j = g.join(F.broadcast(totals)).withColumn(
        "_cross",
        F.abs(F.col("cum__ca") * F.col("_nb") - F.col("cum__cb") * F.col("_na")),
    )
    # consumed by the max aggregate AND the argmax join-back; bounded by
    # the distinct-value grid, never the corpus
    j = persist(j)
    d = j.agg(F.max("_cross").alias("_dnum"))
    return (
        j.join(F.broadcast(d), F.col("_cross") == F.col("_dnum"))
        .agg(
            F.min("_na").alias("n_a"),
            F.min("_nb").alias("n_b"),
            F.min("_dnum").alias("d_num"),
            F.min("_v").alias("ks_at"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            "ks_at",
            (
                F.col("d_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks"),
        )
    )


def mad_outliers(
    df: DataFrame,
    id_col: str,
    value_col: str,
    scale: int = 10_000,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier flags via the modified z-score (Iglewicz-Hoaglin):
    z = 0.6745·(x − median) / MAD, flagged at |z| > ``z_threshold``.
    Median/MAD resist the very outliers they hunt — the mean/stddev
    z-score (``rolling_zscore_anomalies``'s global cousin) lets one
    extreme value inflate sigma and mask the rest; this is the global
    screen a pipeline runs before trusting column statistics.

    Exactness: values quantize to ``scale`` ints; both medians come
    from the exact interpolated percentile over those ints (k or
    k + 0.5 — so DOUBLING each yields an exact integer: med2 = 2·med,
    mad4 = 2·median(|2·x − med2|)); the flag is the integer
    cross-multiplication 1349·dev2 > 1000·z_threshold·mad4; the
    reported z is rounded to 6 decimals ENTIRELY in integers
    (half-away-from-zero: z6 = sign·((2·|1349000·(2q−med2)| + mad4)
    div (2·mad4)), |z6| < 2^53) and published as the single exact
    division z6/10^6 — no engine-specific HALF_UP/banker's round()
    anywhere, so Spark, the DuckDB oracle, and a Python brute force
    agree bit-for-bit (the r7 pytest red was a 1-ulp round() tie).
    MAD = 0 (a majority-constant column) yields NULL z / no flag in
    both engines.

    Shape: two grid-bounded percentile aggregates (each a 1-row
    broadcast — the aggregate state is bounded by DISTINCT quantized
    values, not rows) and one narrow flag projection; the corpus is
    scanned, never shuffled."""
    vq = F.floor(F.col(value_col) * F.lit(scale) + F.lit(0.5)).cast("long")
    base = df.select(F.col(id_col), F.col(value_col), vq.alias("_vq"))
    med = base.agg(
        F.round(F.expr("percentile(_vq, 0.5)") * 2).cast("long").alias("_med2")
    )
    dev = base.crossJoin(F.broadcast(med)).withColumn(
        "_dev2", F.abs(2 * F.col("_vq") - F.col("_med2"))
    )
    mad = dev.agg(
        F.round(F.expr("percentile(_dev2, 0.5)") * 2).cast("long").alias("_mad4")
    )
    z6 = F.expr(
        "(CASE WHEN 2 * _vq - _med2 < 0 THEN -1 ELSE 1 END)"
        " * ((2 * abs(1349000 * (2 * _vq - _med2)) + _mad4)"
        " div (2 * _mad4))"
    )
    z = z6.cast("double") / F.lit(1000000.0)
    zt = int(round(z_threshold * 1000))
    return dev.crossJoin(F.broadcast(mad)).select(
        id_col,
        value_col,
        F.when(F.col("_mad4") > 0, z).alias("robust_z"),
        F.when(
            F.col("_mad4") > 0,
            F.lit(1349) * F.col("_dev2") > F.lit(zt) * F.col("_mad4"),
        )
        .otherwise(F.lit(False))
        .alias("is_outlier"),
    )


def ewma_truncated(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    window: int = 8,
    alpha_num: int = 1,
    alpha_den: int = 4,
    scale: int = 10_000,
) -> DataFrame:
    """Truncated exponentially-weighted moving average per key — the
    smoothed-baseline companion to ``rolling_zscore_anomalies``: each
    value is averaged with geometrically decaying weights over the
    trailing ``window`` observations (current row included). Truncation
    is what makes it exact AND bounded-state: the infinite EWMA
    recurrence is order-fragile and unbounded, while the last-W form is
    a fixed expression over W lag() values — one key-partitioned window
    exchange, engine-replayable bit-for-bit.

    Math, integer-exact: with a = alpha_num/alpha_den, weight of the
    j-th lag is a·(1−a)^j (the current row takes j = 0), all over the
    truncated mass. Scaled to integers: w_j = alpha_num·(alpha_den −
    alpha_num)^j · alpha_den^(W−1−j); ewma = Σ w_j·v_j / Σ_present w_j
    — numerator and the present-lag weight sum are exact bigints
    (values quantized by ``scale``), one double division at the end.
    Cold starts shorten the window (missing lags drop out of both
    sums), so the first row's ewma equals its own value.

    Validity: window·max|v·scale|·alpha_den^(W-1) < 2^63 — defaults
    (W=8, a=1/4, scale=1e4) hold for |v| < 5·10^9. Output appends
    ``ewma`` (double, round 6) and ``n_window`` (rows present)."""
    from pyspark.sql import Window as W

    if not (0 < alpha_num < alpha_den):
        raise ValueError("ewma_truncated: need 0 < alpha_num < alpha_den")
    w = W.partitionBy(key_col).orderBy(*order_cols)
    vq = F.floor(F.col(value_col) * F.lit(scale) + F.lit(0.5)).cast("long")
    base = df.withColumn("_vq", vq)
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    cnt = F.lit(0).cast("long")
    b = alpha_den - alpha_num
    for j in range(window):
        wj = alpha_num * (b ** j) * (alpha_den ** (window - 1 - j))
        lag_v = F.lag("_vq", j).over(w)
        num = num + F.coalesce(lag_v * F.lit(wj), F.lit(0))
        den = den + F.when(lag_v.isNotNull(), F.lit(wj)).otherwise(F.lit(0))
        cnt = cnt + F.when(lag_v.isNotNull(), 1).otherwise(0)
    return base.select(
        key_col,
        *order_cols,
        value_col,
        cnt.alias("n_window"),
        F.round(
            num.cast("double") / den.cast("double") / F.lit(float(scale)), 6
        ).alias("ewma"),
    )


def ab_conversion_test(
    df: DataFrame,
    group_col,
    converted_col,
    entity_col: str = "user_id",
) -> DataFrame:
    """Two-variant conversion comparison — the A/B readout: per-entity
    conversion flags roll up to the 2×2 (variant × converted) table,
    rates in exact ppm, and the chi-square statistic in the same
    exact-rational form as ``text.lexical_drift`` (bigint pivot
    squared in double, one division chain) — bit-identical in the
    oracle. The yes/no decision threshold (3.84 for p<0.05 at 1 dof)
    stays with the caller; this op just makes the statistic itself
    deterministic and engine-portable.

    ``group_col``: Column/str with exactly two values ('a'/'b' style —
    more variants raise). ``converted_col``: boolean Column per ROW;
    an entity converts if ANY of its rows does.

    Shape: one entity-keyed aggregate, a 4-cell rollup, 1-row output.
    Output: n_a, n_b, conv_a, conv_b, rate_a_ppm, rate_b_ppm, chi2."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    per = df.groupBy(F.col(entity_col)).agg(
        F.min(g).alias("_g1"),
        F.max(g).alias("_g2"),
        F.max(converted_col.cast("int")).alias("_conv"),
    )
    lo = per.agg(F.min("_g1").alias("_lo"), F.max("_g1").alias("_hi"))
    agg = (
        per.crossJoin(F.broadcast(lo))
        .agg(
            F.count("*").alias("_tot"),
            F.count_if(F.col("_g1") != F.col("_g2")).alias("_mixed"),
            F.count_if(F.col("_g1") == F.col("_lo")).alias("_na"),
            F.count_if(F.col("_g1") == F.col("_hi")).alias("_nb"),
            F.count_if(
                (F.col("_g1") == F.col("_lo")) & (F.col("_conv") == 1)
            ).alias("conv_a"),
            F.count_if(
                (F.col("_g1") == F.col("_hi")) & (F.col("_conv") == 1)
            ).alias("conv_b"),
            F.min("_lo").alias("_lov"),
            F.min("_hi").alias("_hiv"),
        )
    )
    # the guard wraps n_a itself so column pruning can never drop it:
    # entities in both variants, a single-variant frame, or a THIRD
    # variant value (entities between min and max would silently drop
    # out of the 2x2 — wrong statistics with no signal) all make the
    # readout meaningless -> raise (house policy: checks raise)
    bad = (
        (F.col("_mixed") > 0)
        | (F.col("_lov") == F.col("_hiv"))
        | (F.col("_na") + F.col("_nb") != F.col("_tot"))
    )
    guarded_na = F.when(
        bad,
        F.raise_error(
            F.lit(
                "ab_conversion_test: entities must map to exactly one of "
                "exactly two variant values (mixed-variant entities, a "
                "single variant, or 3+ variants all raise)"
            )
        ).cast("long"),
    ).otherwise(F.col("_na"))
    base = agg.select(
        guarded_na.alias("n_a"),
        F.col("_nb").alias("n_b"),
        "conv_a",
        "conv_b",
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a"), F.col("conv_b")
    pivot = ca * (F.col("n_b") - cb) - cb * (F.col("n_a") - ca)
    n_tot = (F.col("n_a") + F.col("n_b")).cast("double")
    conv_tot = (ca + cb).cast("double")
    nonconv_tot = (F.col("n_a") - ca + F.col("n_b") - cb).cast("double")
    # degenerate margins (everyone converted / nobody converted / an
    # empty variant) make the statistic undefined -> NULL, not an error
    chi2 = F.when(
        (conv_tot > 0) & (nonconv_tot > 0) & (na > 0) & (nb > 0),
        F.round(
            n_tot * pivot.cast("double") * pivot.cast("double")
            / (na * nb * conv_tot * nonconv_tot),
            6,
        ),
    )
    return base.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr("(conv_a * 1000000) div n_a").alias("rate_a_ppm"),
        F.expr("(conv_b * 1000000) div n_b").alias("rate_b_ppm"),
        chi2.alias("chi2"),
    )
