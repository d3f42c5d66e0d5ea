"""Engine-portable distinct-count sketching (HyperLogLog).

``approx_count_distinct`` exists in both Spark and DuckDB, but their
sketches are engine-private: the estimates differ and can't be
oracle-compared. This HLL is built from PORTABLE primitives instead —
md5-derived 60-bit hashes, bucket = low 8 bits, rank = leading-zero
count of the remaining 52 bits via ``length(bin(x))`` — so the
registers AND the estimate are bit-identical in any engine.

Determinism of the harmonic mean: the indicator sum uses
``2^(53 - M_j)`` per bucket — every term and partial sum is an exact
integer below 2^61, so the sum is order-free; the estimate is then one
float division of exact operands by a shared literal constant. The
standard small-range linear-counting correction (``m * ln(m / zeros)``
when the raw estimate is below 2.5m) uses one ``ln`` per output row on
identical operands — libm implementations agree to ≤1 ulp, and the
final round-to-4dp makes a cross-engine mismatch a ~1e-9 event.

Scale: registers are a groupBy over 2^b buckets — map-side combine
collapses each partition to at most 256 rows before the exchange; at
100 TB the sketch of any column costs one narrow scan + a 256-row
shuffle. Sketches of disjoint partitions merge by bucket-wise max
(HLL's defining property), so incremental refresh is a 256-row union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

B_BITS = 8
M = 1 << B_BITS  # 256 buckets
REST_BITS = 52  # 60-bit hash minus the bucket byte
MAX_RANK = REST_BITS + 1
# alpha_256 * m^2 * 2^53, precomputed so both engines parse ONE literal
ALPHA = 0.7213 / (1.0 + 1.079 / M)
EST_NUM = repr(ALPHA * M * M * float(1 << MAX_RANK))


def _hash60(col: str) -> F.Column:
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(bucket, max_rank) registers — the sketch itself, deterministic
    and engine-portable. Merge sketches with bucket-wise max."""
    h = _hash60(col)
    base = df.filter(F.col(col).isNotNull()).select(
        F.pmod(h, F.lit(M)).alias("bucket"),
        F.shiftrightunsigned(h, B_BITS).alias("_rest"),
    )
    rank = F.when(F.col("_rest") == 0, F.lit(MAX_RANK)).otherwise(
        F.lit(MAX_RANK) - F.length(F.expr("bin(_rest)"))
    )
    return (
        base.select("bucket", rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_distinct(df: DataFrame, col: str) -> DataFrame:
    """One-row raw HLL estimate for ``col`` (see module docstring for
    the exact-arithmetic determinism argument)."""
    regs = hll_registers(df, col)
    agg = regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {MAX_RANK} - max_rank)")
        ).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    intsum = F.col("s_present") + (F.lit(M) - F.col("n_present")) * F.lit(
        1 << MAX_RANK
    ).cast("long")
    raw = F.lit(float(EST_NUM)) / intsum
    zeros = (F.lit(M) - F.col("n_present")).cast("long")
    est = F.when(
        (raw <= F.lit(2.5 * M)) & (zeros > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.lit(col).alias("column_name"),
        F.round(est, 4).alias("hll_estimate"),
        F.col("n_present").cast("long").alias("buckets_used"),
    )


def hll_oracle_sql(src: str, col: str) -> str:
    """DuckDB SQL replaying registers + estimate bit-for-bit."""
    return f"""
    WITH h AS (
      SELECT ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM {src} WHERE {col} IS NOT NULL),
    r AS (
      SELECT h % {M} AS bucket,
             CASE WHEN (h >> {B_BITS}) = 0 THEN {MAX_RANK}
                  ELSE {MAX_RANK} - length(bin(h >> {B_BITS})) END AS rank
      FROM h),
    regs AS (SELECT bucket, max(rank) AS max_rank FROM r GROUP BY 1),
    agg AS (
      SELECT CAST(SUM(CAST(1 AS BIGINT) << ({MAX_RANK} - max_rank)) AS BIGINT)
               AS s_present,
             CAST(count(*) AS BIGINT) AS n_present
      FROM regs),
    est AS (
      SELECT n_present,
             {EST_NUM} / (s_present + ({M} - n_present)
               * (CAST(1 AS BIGINT) << {MAX_RANK})) AS raw,
             CAST({M} - n_present AS BIGINT) AS zeros
      FROM agg)
    SELECT '{col}' AS column_name,
           round(CASE WHEN raw <= {2.5 * M} AND zeros > 0
                      THEN {float(M)} * ln({float(M)} / zeros)
                      ELSE raw END, 4) AS hll_estimate,
           n_present AS buckets_used
    FROM est
    """


# ---------------------------------------------------------------------------
# Count-min sketch (heavy hitters)
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 4096  # buckets per row


def _cms_bucket(item: F.Column, row: int) -> F.Column:
    """Row-salted portable bucket: md5("<row>:<item>") -> 60-bit int
    -> mod W. Same string math replays verbatim in any engine."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), item.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(CMS_W))


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str) -> DataFrame:
    """Point-estimate the count of every probe item: min over the d
    cells the item hashes to. The sketch (<= d*w rows) is broadcast —
    estimating any number of probe items is shuffle-free."""
    p = probes.select(F.col(col)).withColumn(
        "_c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cms_bucket(F.col(col), r).alias("bucket"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ),
    )
    return (
        p.select(col, F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
        .join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(col)
        .agg(F.min("cnt").alias("cms_est"))
    )


def cms_oracle_cells_sql(items_cte: str) -> str:
    """DuckDB CTE body producing the identical (row, bucket, cnt) cells
    from ``items_cte`` (a CTE/subquery exposing column ``item``)."""
    return f"""
      SELECT r.row,
             ('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || CAST(item AS VARCHAR)), 1, 15))::BIGINT
               % {CMS_W} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM ({items_cte}) items
      CROSS JOIN (SELECT unnest(range({CMS_D})) AS row) r
      WHERE item IS NOT NULL
      GROUP BY 1, 2
    """


def cms_sketch_from_counts(counts: DataFrame, col: str, cnt_col: str) -> DataFrame:
    """Count-min sketch -> (row, bucket, cnt) cells, built from a
    pre-aggregated (item, count) table: weighting cells by the counts
    avoids re-exploding the raw stream d times, and the cells are
    identical to sketching the raw items one by one.

    The sketch is CMS_D x CMS_W cells REGARDLESS of item cardinality —
    map-side combine collapses every partition to at most d*w rows
    before the exchange (the same scale shape as the HLL above).
    Sketches of disjoint partitions merge by cell-wise SUM. Estimates
    are upper bounds: est >= true count, with overestimates bounded by
    sum(cnt)/W per row and d rows to take the min over."""
    items = counts.filter(F.col(col).isNotNull()).select(
        F.col(col).alias("_item"), F.col(cnt_col).alias("_n")
    )
    cells = items.select(
        F.col("_n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cms_bucket(F.col("_item"), r).alias("bucket"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select("c.row", "c.bucket", "_n")
    return cells.groupBy("row", "bucket").agg(F.sum("_n").cast("long").alias("cnt"))


# ---------------------------------------------------------------------------
# Fixed-grid histogram quantile sketch
# ---------------------------------------------------------------------------


def histogram_sketch(df: DataFrame, col: str, width: float) -> DataFrame:
    """Mergeable quantile sketch: (bin, cnt) cells on a FIXED value grid
    (bin = floor(value / width)) — no data-dependent range, so sketches
    of disjoint partitions/streams merge by cell-wise sum and the cell
    count is bounded by value_range/width regardless of row count.
    The 100 TB shape: one narrow scan + a <=few-hundred-row shuffle.
    (percentile_approx's t-digest is the engine-private alternative;
    this grid is engine-portable — DuckDB replays cells AND estimates.)"""
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            F.floor(F.col(col).cast("double") / F.lit(width)).cast("long").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantiles(
    sketch: DataFrame, width: float, qs: list[float]
) -> DataFrame:
    """Quantile estimates from the sketch: cumulative counts over the
    bin order (a single-partition window — the sketch is a few hundred
    rows by construction), then for each q the first bin whose
    cumulative count reaches q*n, linearly interpolated within the bin.
    Returns (q, est_value, n). The 1-row total rides a scalar broadcast
    (j6 pattern); every arithmetic step is written identically in the
    DuckDB oracle, so estimates match bit-for-bit."""
    # ONE fused job, no window: the earlier shape referenced the sketch
    # subtree three times (three scans, three scheduling floors), and a
    # global-window rewrite still tripped WindowExec's "No Partition
    # Defined" warning (a foldable partition key is optimized away). The
    # cell count is bounded by value_range/width regardless of data
    # size, so the whole sketch fits ONE array row: sort the cells,
    # compute the running cumulative with an expression-level fold, and
    # for each q pick the first cell whose cum reaches q*n — exactly the
    # oracle's min(CASE WHEN cum >= q*n THEN bin END), interpolated in
    # the same arithmetic. The interpreted fold touches ~500 elements
    # once; the data-sized scan below it stays whole-stage codegen.
    cum = F.expr(
        "aggregate(cells,"
        " struct(cast(array() as array<struct<bin:bigint,cnt:bigint,cum:bigint>>) as a,"
        "        cast(0 as bigint) as s),"
        " (acc, c) -> struct(acc.a || array(cast(named_struct("
        "     'bin', c.bin, 'cnt', c.cnt, 'cum', acc.s + c.cnt)"
        "     as struct<bin:bigint,cnt:bigint,cum:bigint>)),"
        "   acc.s + c.cnt),"
        " acc -> acc.a)"
    )
    packed = (
        sketch.agg(
            F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("cells")
        )
        .select(cum.alias("cc"))
        .select("cc", F.element_at("cc", -1)["cum"].cast("long").alias("n"))
    )
    target = F.col("q") * F.col("n")
    sel = F.element_at(F.filter("cc", lambda c: c["cum"] >= target), 1)
    return packed.select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"), "cc", "n"
    ).select(
        "q",
        F.round(
            sel["bin"] * F.lit(width)
            + F.lit(width) * (target - (sel["cum"] - sel["cnt"])) / sel["cnt"],
            6,
        ).alias("est_value"),
        "n",
    )


def hll_distinct_by(df: DataFrame, group_col: str, col: str) -> DataFrame:
    """Per-group HLL distinct estimates — (group, hll_estimate,
    buckets_used), one row per group. Registers key on (group, bucket):
    at most 256 register rows PER GROUP leave the map-side combine, so
    estimating distincts for every group in a 100 TB table is one
    narrow scan + a |groups|x256-row shuffle. Same exact-arithmetic
    estimate as ``hll_distinct`` (see module docstring); merging two
    periods' sketches is a bucket-wise max per group."""
    h = _hash60(col)
    base = df.filter(F.col(col).isNotNull()).select(
        F.col(group_col),
        F.pmod(h, F.lit(M)).alias("bucket"),
        F.shiftrightunsigned(h, B_BITS).alias("_rest"),
    )
    rank = F.when(F.col("_rest") == 0, F.lit(MAX_RANK)).otherwise(
        F.lit(MAX_RANK) - F.length(F.expr("bin(_rest)"))
    )
    regs = (
        base.select(group_col, "bucket", rank.alias("rank"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )
    agg = regs.groupBy(group_col).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {MAX_RANK} - max_rank)")
        ).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    intsum = F.col("s_present") + (F.lit(M) - F.col("n_present")) * F.lit(
        1 << MAX_RANK
    ).cast("long")
    raw = F.lit(float(EST_NUM)) / intsum
    zeros = (F.lit(M) - F.col("n_present")).cast("long")
    est = F.when(
        (raw <= F.lit(2.5 * M)) & (zeros > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.col(group_col),
        F.round(est, 4).alias("hll_estimate"),
        F.col("n_present").cast("long").alias("buckets_used"),
    )


def hll_by_oracle_sql(src: str, group_col: str, col: str) -> str:
    """DuckDB SQL replaying the per-group registers + estimates."""
    return f"""
    WITH h AS (
      SELECT {group_col},
             ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM {src} WHERE {col} IS NOT NULL),
    r AS (
      SELECT {group_col}, h % {M} AS bucket,
             CASE WHEN (h >> {B_BITS}) = 0 THEN {MAX_RANK}
                  ELSE {MAX_RANK} - length(bin(h >> {B_BITS})) END AS rank
      FROM h),
    regs AS (SELECT {group_col}, bucket, max(rank) AS max_rank FROM r GROUP BY 1, 2),
    agg AS (
      SELECT {group_col},
             CAST(SUM(CAST(1 AS BIGINT) << ({MAX_RANK} - max_rank)) AS BIGINT)
               AS s_present,
             CAST(count(*) AS BIGINT) AS n_present
      FROM regs GROUP BY 1),
    est AS (
      SELECT {group_col}, n_present,
             {EST_NUM} / (s_present + ({M} - n_present)
               * (CAST(1 AS BIGINT) << {MAX_RANK})) AS raw,
             CAST({M} - n_present AS BIGINT) AS zeros
      FROM agg)
    SELECT {group_col},
           round(CASE WHEN raw <= {2.5 * M} AND zeros > 0
                      THEN {float(M)} * ln({float(M)} / zeros)
                      ELSE raw END, 4) AS hll_estimate,
           n_present AS buckets_used
    FROM est
    """


def _estimate_from_regs(regs: DataFrame, group_col: str) -> DataFrame:
    """(group, hll_estimate, buckets_used) from a (group, bucket,
    max_rank) register table — the estimate side of the sketch, shared
    by the direct and the merge paths (same exact-arithmetic formula as
    ``hll_distinct``)."""
    agg = regs.groupBy(group_col).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {MAX_RANK} - max_rank)")
        ).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    intsum = F.col("s_present") + (F.lit(M) - F.col("n_present")) * F.lit(
        1 << MAX_RANK
    ).cast("long")
    raw = F.lit(float(EST_NUM)) / intsum
    zeros = (F.lit(M) - F.col("n_present")).cast("long")
    est = F.when(
        (raw <= F.lit(2.5 * M)) & (zeros > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.col(group_col),
        F.round(est, 4).alias("hll_estimate"),
        F.col("n_present").cast("long").alias("buckets_used"),
    )


def hll_incremental_estimate(
    df: DataFrame, col: str, batch_col: str
) -> DataFrame:
    """Incremental sketch-state maintenance: per-BATCH HLL register
    tables (the stored state an ingest pipeline appends per batch) plus
    the union estimate computed by MERGING those registers bucket-wise
    — the data is scanned once and never rescanned for the union;
    that's HLL's defining property and the reason sketch state beats
    count-distinct state at 100 TB (a 256-row max-merge per batch vs a
    re-shuffle of all history).

    Output: one (part, hll_estimate, buckets_used) row per batch value
    (cast to string) + one 'merged' row. The register frame feeds both
    the per-batch estimates and the merge, so it is localCheckpointed
    (CLAUDE.md subtree rule; in production it IS a stored table)."""
    h = _hash60(col)
    base = df.filter(F.col(col).isNotNull()).select(
        F.col(batch_col).cast("string").alias("part"),
        F.pmod(h, F.lit(M)).alias("bucket"),
        F.shiftrightunsigned(h, B_BITS).alias("_rest"),
    )
    rank = F.when(F.col("_rest") == 0, F.lit(MAX_RANK)).otherwise(
        F.lit(MAX_RANK) - F.length(F.expr("bin(_rest)"))
    )
    regs = (
        base.select("part", "bucket", rank.alias("rank"))
        .groupBy("part", "bucket")
        .agg(F.max("rank").alias("max_rank"))
        .localCheckpoint(eager=False)
    )
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
        .select(F.lit("merged").alias("part"), "bucket", "max_rank")
    )
    return _estimate_from_regs(regs, "part").unionByName(
        _estimate_from_regs(merged, "part")
    )


def hll_incremental_oracle_sql(src: str, col: str, batch_expr: str) -> str:
    """DuckDB replay of ``hll_incremental_estimate``: the same per-batch
    register CTE feeds both the per-batch and the merged estimates."""
    est_body = f"""
      SELECT part,
             CAST(SUM(CAST(1 AS BIGINT) << ({MAX_RANK} - max_rank)) AS BIGINT)
               AS s_present,
             CAST(count(*) AS BIGINT) AS n_present"""
    est_tail = f"""
      SELECT part, n_present,
             {EST_NUM} / (s_present + ({M} - n_present)
               * (CAST(1 AS BIGINT) << {MAX_RANK})) AS raw,
             CAST({M} - n_present AS BIGINT) AS zeros"""
    final = f"""
      SELECT part,
             round(CASE WHEN raw <= {2.5 * M} AND zeros > 0
                        THEN {float(M)} * ln({float(M)} / zeros)
                        ELSE raw END, 4) AS hll_estimate,
             n_present AS buckets_used"""
    return f"""
    WITH h AS (
      SELECT CAST({batch_expr} AS VARCHAR) AS part,
             ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM {src} WHERE {col} IS NOT NULL),
    r AS (
      SELECT part, h % {M} AS bucket,
             CASE WHEN (h >> {B_BITS}) = 0 THEN {MAX_RANK}
                  ELSE {MAX_RANK} - length(bin(h >> {B_BITS})) END AS rank
      FROM h),
    regs AS (SELECT part, bucket, max(rank) AS max_rank FROM r GROUP BY 1, 2),
    mregs AS (SELECT 'merged' AS part, bucket, max(max_rank) AS max_rank
              FROM regs GROUP BY 2),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM mregs),
    agg AS ({est_body} FROM allregs GROUP BY 1),
    est AS ({est_tail} FROM agg)
    {final} FROM est
    """


def hll_error_audit(df: DataFrame, col: str) -> DataFrame:
    """Sketch trust measurement — the HLL estimate next to the EXACT
    distinct count with the relative error in ppm: the number that
    justifies replacing count(DISTINCT) with the sketch on 100 TB
    (where the exact count is a full shuffle you run ONCE, here, to
    certify the sketch you then run always). Completes the measurement
    family: ann_recall_audit (ANN), dedup_precision_audit (MinHash),
    drift gates (distributions), this (cardinality sketches).

    Output (1 row): column_name, exact_distinct, hll_estimate,
    buckets_used, err_ppm — err_ppm from one fixed IEEE expression
    over the deterministic estimate and the exact long, identical in
    the oracle.

    Shape: the HLL register aggregation (bounded state) plus one exact
    distinct aggregate, 1-row crossed. The exact side is the expensive
    half — that is the point of the audit."""
    est = hll_distinct(df, col)
    exact = df.agg(F.count_distinct(F.col(col)).cast("long").alias("exact_distinct"))
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "column_name",
            "exact_distinct",
            "hll_estimate",
            "buckets_used",
            F.expr(
                "CAST(floor(abs(hll_estimate - CAST(exact_distinct AS DOUBLE))"
                " / CAST(exact_distinct AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("err_ppm"),
        )
    )


def group_quantiles(
    df: DataFrame, group_col: str, col: str, width: float, qs: list[float]
) -> DataFrame:
    """Per-group quantile estimates from the mergeable fixed-grid
    histogram — the p50/p95-per-service/language/source rollup
    ``histogram_quantiles`` answers globally. One (group, bin)-keyed
    count (map-side combined, cells bounded by groups × value_range/
    width), then each group's cells collapse to ONE array row and the
    same expression-level cumulative fold + interpolation as the
    global path — no windows anywhere, one group-keyed exchange.

    Output: (group, q, est_value, n) — one row per group × quantile,
    arithmetic written identically in the DuckDB oracle."""
    cells = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.col(group_col),
            F.floor(F.col(col).cast("double") / F.lit(width)).cast("long").alias("bin"),
        )
        .groupBy(group_col, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    cum = F.expr(
        "aggregate(cells,"
        " struct(cast(array() as array<struct<bin:bigint,cnt:bigint,cum:bigint>>) as a,"
        "        cast(0 as bigint) as s),"
        " (acc, c) -> struct(acc.a || array(cast(named_struct("
        "     'bin', c.bin, 'cnt', c.cnt, 'cum', acc.s + c.cnt)"
        "     as struct<bin:bigint,cnt:bigint,cum:bigint>)),"
        "   acc.s + c.cnt),"
        " acc -> acc.a)"
    )
    packed = (
        cells.groupBy(group_col)
        .agg(F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("cells"))
        .select(group_col, cum.alias("cc"))
        .select(
            group_col, "cc", F.element_at("cc", -1)["cum"].cast("long").alias("n")
        )
    )
    target = F.col("q") * F.col("n")
    sel = F.element_at(F.filter("cc", lambda c: c["cum"] >= target), 1)
    return packed.select(
        group_col,
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        "cc",
        "n",
    ).select(
        group_col,
        "q",
        F.round(
            sel["bin"] * F.lit(width)
            + F.lit(width) * (target - (sel["cum"] - sel["cnt"])) / sel["cnt"],
            6,
        ).alias("est_value"),
        "n",
    )
