"""Engine-portable mergeable sketches: HyperLogLog distinct counts,
count-min heavy hitters and fixed-grid histogram quantiles.

Each rule is written ONCE, as a keyed kernel: the whole-table sketch is
that kernel with no key (a global aggregate is the root of the same
partial-aggregate merge that serves every group), and each oracle SQL
form is one function with an optional key. ``_registers`` /
``_estimate`` / ``_hll_sql`` are the HLL, ``_cells`` / ``_quantiles`` /
``quantile_oracle_sql`` the histogram, ``_cms_cells`` the count-min
cell array; tests/test_aggregate_contract.py fails on a second copy.

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
final round-to-4dp makes a cross-engine mismatch a ~1e-9 event. An
empty column has no registers: the indicator sum is 0, not NULL, and
the linear-counting branch gives ``m * ln(m / m) = 0``.

Scale: registers are a groupBy over 2^b buckets — map-side combine
collapses each partition to at most 256 rows before the exchange; at
100 TB the sketch of any column costs one narrow scan + a 256-row
shuffle. Sketches of disjoint partitions merge by bucket-wise max
(HLL's defining property), so incremental refresh is a 256-row union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import shared
from .sampling import md5_bits, md5_bits_sql

B_BITS = 8
M = 1 << B_BITS  # 256 buckets
REST_BITS = 52  # 60-bit hash minus the bucket byte
MAX_RANK = REST_BITS + 1
# alpha_256 * m^2 * 2^53, precomputed so both engines parse ONE literal
ALPHA = 0.7213 / (1.0 + 1.079 / M)
EST_NUM = repr(ALPHA * M * M * float(1 << MAX_RANK))


def _registers(df: DataFrame, col: str, keys: list[str]) -> DataFrame:
    """(*keys, bucket, max_rank) registers of the non-null ``col``
    values — at most 256 rows per key leave the map-side combine."""
    h = md5_bits(col)
    base = df.filter(F.col(col).isNotNull()).select(
        *keys,
        F.pmod(h, F.lit(M)).alias("bucket"),
        F.shiftrightunsigned(h, B_BITS).alias("_rest"),
    )
    rank = F.when(F.col("_rest") == 0, F.lit(MAX_RANK)).otherwise(
        F.lit(MAX_RANK) - F.length(F.expr("bin(_rest)"))
    )
    return (
        base.select(*keys, "bucket", rank.alias("rank"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def _estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, hll_estimate, buckets_used) from a register table (see
    the module docstring for the exact-arithmetic argument)."""
    agg = regs.groupBy(*keys).agg(
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {MAX_RANK} - max_rank)")),
            F.lit(0).cast("long"),
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
        *keys,
        F.round(est, 4).alias("hll_estimate"),
        F.col("n_present").cast("long").alias("buckets_used"),
    )


def _hll_sql(
    src: str,
    col: str,
    key: str | None = None,
    key_expr: str | None = None,
    merged: bool = False,
) -> str:
    """DuckDB SQL replaying ``_registers`` + ``_estimate`` bit-for-bit:
    keyed on ``key`` (computed as ``key_expr`` when given), or one
    ``column_name`` row with no key. ``merged`` adds one ``'merged'``
    row: the no-key estimate of the bucket-wise max over every key."""
    k = f"{key}, " if key else ""
    kdef = f"{key_expr} AS {key}, " if key_expr else k

    def estimate(regs: str, key: str | None, head: str) -> str:
        kc = f"{key}, " if key else ""
        return f"""
    SELECT {head}
           round(CASE WHEN raw <= {2.5 * M} AND zeros > 0
                      THEN {float(M)} * ln({float(M)} / zeros)
                      ELSE raw END, 4) AS hll_estimate,
           n_present AS buckets_used
    FROM (
      SELECT {kc}n_present,
             {EST_NUM} / (s_present + ({M} - n_present)
               * (CAST(1 AS BIGINT) << {MAX_RANK})) AS raw,
             CAST({M} - n_present AS BIGINT) AS zeros
      FROM (
        SELECT {kc}CAST(coalesce(SUM(CAST(1 AS BIGINT) << ({MAX_RANK} - max_rank)), 0)
                    AS BIGINT) AS s_present,
               CAST(count(*) AS BIGINT) AS n_present
        FROM {regs} {f"GROUP BY {key}" if key else ""}) agg) est"""

    out = estimate("regs", key, k or f"'{col}' AS column_name, ")
    mregs = ""
    if merged:
        mregs = """,
    mregs AS (SELECT bucket, max(max_rank) AS max_rank FROM regs GROUP BY 1)"""
        out += "\n    UNION ALL" + estimate("mregs", None, f"'merged' AS {key}, ")
    return f"""
    WITH h AS (
      SELECT {kdef}{md5_bits_sql(col)} AS h
      FROM {src} WHERE {col} IS NOT NULL),
    r AS (
      SELECT {k}h % {M} AS bucket,
             CASE WHEN (h >> {B_BITS}) = 0 THEN {MAX_RANK}
                  ELSE {MAX_RANK} - length(bin(h >> {B_BITS})) END AS rank
      FROM h),
    regs AS (SELECT {k}bucket, max(rank) AS max_rank FROM r GROUP BY {k}bucket){mregs}{out}
    """


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(bucket, max_rank) registers — the sketch itself, deterministic
    and engine-portable. Merge sketches with bucket-wise max."""
    return _registers(df, col, [])


def hll_distinct(df: DataFrame, col: str) -> DataFrame:
    """One-row raw HLL estimate for ``col`` (see module docstring for
    the exact-arithmetic determinism argument)."""
    return _estimate(hll_registers(df, col), []).select(
        F.lit(col).alias("column_name"), "hll_estimate", "buckets_used"
    )


def hll_oracle_sql(src: str, col: str) -> str:
    """DuckDB SQL replaying registers + estimate bit-for-bit."""
    return _hll_sql(src, col)


def hll_distinct_by(df: DataFrame, group_col: str, col: str) -> DataFrame:
    """Per-group HLL distinct estimates — (group, hll_estimate,
    buckets_used), one row per group. Registers key on (group, bucket):
    at most 256 register rows PER GROUP leave the map-side combine, so
    estimating distincts for every group in a 100 TB table is one
    narrow scan + a |groups|x256-row shuffle. Same exact-arithmetic
    estimate as ``hll_distinct`` (see module docstring); merging two
    periods' sketches is a bucket-wise max per group."""
    return _estimate(_registers(df, col, [group_col]), [group_col])


def hll_by_oracle_sql(src: str, group_col: str, col: str) -> str:
    """DuckDB SQL replaying the per-group registers + estimates."""
    return _hll_sql(src, col, key=group_col)


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
    (cast to string) + one 'merged' row, the no-key estimate of the
    merged registers — so an empty frame still gives ('merged', 0.0, 0),
    as ``hll_distinct`` gives 0.0. The register frame feeds both the
    per-batch estimates and the merge, so it is shared."""
    regs = shared(
        _registers(df.withColumn("part", F.col(batch_col).cast("string")), col, ["part"])
    )
    merged = regs.groupBy("bucket").agg(F.max("max_rank").alias("max_rank"))
    return _estimate(regs, ["part"]).unionByName(
        _estimate(merged, []).select(F.lit("merged").alias("part"), "hll_estimate", "buckets_used")
    )


def hll_incremental_oracle_sql(src: str, col: str, batch_expr: str) -> str:
    """DuckDB replay of ``hll_incremental_estimate``: the same per-batch
    register CTE feeds both the per-batch and the merged estimates."""
    return _hll_sql(
        src, col, key="part", key_expr=f"CAST({batch_expr} AS VARCHAR)", merged=True
    )


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


# ---------------------------------------------------------------------------
# Count-min sketch (heavy hitters)
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 4096  # buckets per row


def _cms_bucket(item: F.Column, row: int) -> F.Column:
    """Row-salted portable bucket: the 60-bit ``md5_bits`` of
    "<row>:<item>" mod W (``cms_bucket_sql`` in DuckDB)."""
    return F.pmod(md5_bits(F.concat(F.lit(f"{row}:"), item.cast("string"))), F.lit(CMS_W))


def cms_bucket_sql(row: str, item: str) -> str:
    """DuckDB form of ``_cms_bucket`` for the SQL expressions ``row``
    and ``item``."""
    key = f"CAST({row} AS VARCHAR) || ':' || CAST({item} AS VARCHAR)"
    return f"{md5_bits_sql(key)} % {CMS_W}"


def _cms_cells(item: F.Column) -> F.Column:
    """The d (row, bucket) cells ``item`` hashes to, as one array."""
    return F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"), _cms_bucket(item, r).alias("bucket")
            )
            for r in range(CMS_D)
        ]
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str) -> DataFrame:
    """Point-estimate the count of every probe item: min over the d
    cells the item hashes to. The sketch (<= d*w rows) is broadcast —
    estimating any number of probe items is shuffle-free."""
    p = probes.select(F.col(col)).withColumn("_c", F.explode(_cms_cells(F.col(col))))
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
      SELECT r.row, {cms_bucket_sql("r.row", "item")} AS bucket,
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
        F.col("_n"), F.explode(_cms_cells(F.col("_item"))).alias("c")
    ).select("c.row", "c.bucket", "_n")
    return cells.groupBy("row", "bucket").agg(F.sum("_n").cast("long").alias("cnt"))


# ---------------------------------------------------------------------------
# Fixed-grid histogram quantile sketch
# ---------------------------------------------------------------------------


def _check_grid(width: float, qs: list[float] = ()) -> None:
    """Reject a grid or quantile the arithmetic can't serve — before
    any job runs (width 0 divides by zero at collect time, a negative
    width or a q outside [0, 1] gives a silent wrong value)."""
    if not width > 0:
        raise ValueError(f"histogram sketch: width must be positive, got {width}")
    bad = [q for q in qs if not 0 <= q <= 1]
    if bad:
        raise ValueError(f"histogram sketch: quantiles must be in [0, 1], got {bad}")


def _cells(df: DataFrame, col: str, width: float, keys: list[str]) -> DataFrame:
    """(*keys, bin, cnt) cells of the non-null ``col`` values on the
    fixed grid bin = floor(value / width)."""
    _check_grid(width)
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            *keys,
            F.floor(F.col(col).cast("double") / F.lit(width)).cast("long").alias("bin"),
        )
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def _quantiles(
    cells: DataFrame, width: float, qs: list[float], keys: list[str]
) -> DataFrame:
    """(*keys, q, est_value, n) from (*keys, bin, cnt) cells: each key's
    cells collapse to ONE array row, an expression-level fold computes
    the running cumulative count, and for each q the first cell whose
    cum reaches q*n is linearly interpolated — the oracle's
    min(CASE WHEN cum >= q*n THEN bin END), in the same arithmetic. A
    key with no cells (an empty or all-null column) has no row."""
    # ONE fused job, no window: the earlier shape referenced the sketch
    # subtree three times (three scans, three scheduling floors), and a
    # global-window rewrite still tripped WindowExec's "No Partition
    # Defined" warning (a foldable partition key is optimized away). The
    # cell count is bounded by value_range/width regardless of data
    # size, so a key's whole sketch fits ONE array row. The interpreted
    # fold touches ~500 elements once; the data-sized scan below it
    # stays whole-stage codegen.
    _check_grid(width, qs)
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
        cells.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("cells"))
        .filter(F.size("cells") > 0)
        .select(*keys, cum.alias("cc"))
        .select(*keys, "cc", F.element_at("cc", -1)["cum"].cast("long").alias("n"))
    )
    target = F.col("q") * F.col("n")
    sel = F.element_at(F.filter("cc", lambda c: c["cum"] >= target), 1)
    return packed.select(
        *keys, F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"), "cc", "n"
    ).select(
        *keys,
        "q",
        F.round(
            sel["bin"] * F.lit(width)
            + F.lit(width) * (target - (sel["cum"] - sel["cnt"])) / sel["cnt"],
            6,
        ).alias("est_value"),
        "n",
    )


def quantile_oracle_sql(
    src: str, col: str, width: float, qs: list[float], key: str | None = None
) -> str:
    """DuckDB SQL replaying ``_cells`` + ``_quantiles`` bit-for-bit, per
    ``key`` or over the whole table: the partitioned running-sum window
    states the fold's semantics."""
    k = f"{key}, " if key else ""
    part = f"PARTITION BY {key}" if key else ""
    w = repr(float(width))
    vals = ", ".join(f"({float(q)!r})" for q in qs)
    return f"""
    WITH h AS (
      SELECT {k}CAST(floor(CAST({col} AS DOUBLE) / {w}) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM {src} WHERE {col} IS NOT NULL GROUP BY {k}bin),
    c AS (SELECT {k}bin, cnt,
                 SUM(cnt) OVER ({part} ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
                 CAST(SUM(cnt) OVER ({part}) AS BIGINT) AS n
          FROM h),
    qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {vals}) v(q)),
    sel AS (
      SELECT {k}qs.q, c.n,
             min(CASE WHEN c.cum >= qs.q * c.n THEN c.bin END) AS bin
      FROM qs, c GROUP BY {k}qs.q, c.n)
    SELECT {f"s.{key}, " if key else ""}s.q,
           round(s.bin * {w}
                 + {w} * (s.q * s.n - (c.cum - c.cnt)) / c.cnt, 6) AS est_value,
           s.n
    FROM sel s JOIN c ON {f"c.{key} = s.{key} AND " if key else ""}c.bin = s.bin
    """


def histogram_sketch(df: DataFrame, col: str, width: float) -> DataFrame:
    """Mergeable quantile sketch: (bin, cnt) cells on a FIXED value grid
    (bin = floor(value / width)) — no data-dependent range, so sketches
    of disjoint partitions/streams merge by cell-wise sum and the cell
    count is bounded by value_range/width regardless of row count.
    The 100 TB shape: one narrow scan + a <=few-hundred-row shuffle.
    (percentile_approx's t-digest is the engine-private alternative;
    this grid is engine-portable — DuckDB replays cells AND estimates.)"""
    return _cells(df, col, width, [])


def histogram_quantiles(
    sketch: DataFrame, width: float, qs: list[float]
) -> DataFrame:
    """Quantile estimates from the sketch: (q, est_value, n), the first
    bin whose cumulative count reaches q*n, linearly interpolated
    within the bin (``_quantiles`` with no key). An empty sketch gives
    no rows."""
    return _quantiles(sketch, width, qs, [])


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
    return _quantiles(_cells(df, col, width, [group_col]), width, qs, [group_col])
