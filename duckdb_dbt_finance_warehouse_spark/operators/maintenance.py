"""Table maintenance — the compaction pass every long-lived warehouse
needs: incremental appends (S10) and per-partition restatements (S11)
accrete small files/partitions, and read amplification grows until
someone coalesces them (DuckDB-side the reference gets this for free
from single-file tables; engines call it OPTIMIZE / rewrite_data_files).

``compaction_plan`` is the DECLARATIVE half: group adjacent (by sort
order) partitions into target-row compaction groups with one prefix
sum over the per-partition row counts. The window is over PARTITION
SUMMARIES (dozens-to-thousands of rows at any corpus size, same
bounded-state argument as the quantile-sketch cells), never over the
data, so the plan costs one grouped count of the table plus an
O(#partitions) window. Executing the rewrite is left to the engine's
own OPTIMIZE or a staged rewrite per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import persist
from .stats import ordered_prefix_sums


def compaction_plan(
    df: DataFrame,
    part_col,
    target_rows: int,
    part_name: str | None = None,
    buckets: int = 32,
) -> DataFrame:
    """Per-partition compaction assignment: (partition, n_rows,
    compaction_group) where group = floor(cum_start / target_rows) over
    partitions in ``part_col`` sort order — adjacent small partitions
    share a group (one rewrite task), a partition bigger than the
    target keeps a group to itself. Deterministic, exact integer
    arithmetic throughout.

    The prefix sum is ``stats.ordered_prefix_sums`` over the
    per-partition counts — the two-pass distributed form, never a
    global window (a table at 100 TB can carry 10^5-10^6 partitions; a
    ``Window.orderBy`` with no partition key moves every summary row
    through one task and Spark warns about it).

    ``part_col`` may be a column name or an expression; pass
    ``part_name`` to label an expression."""
    c = F.col(part_col) if isinstance(part_col, str) else part_col
    name = part_name or (part_col if isinstance(part_col, str) else "partition")
    if target_rows <= 0:
        raise ValueError(
            f"compaction_plan: target_rows must be positive, got {target_rows}"
        )
    per = df.groupBy(c.alias(name)).agg(F.count("*").alias("n_rows"))
    return ordered_prefix_sums(per, name, ["n_rows"], buckets).select(
        name,
        "n_rows",
        F.expr(f"(cum_n_rows - n_rows) div {target_rows}").alias("compaction_group"),
    )


def zvalue_expr(xs: str, ys: str, bits: int) -> F.Column:
    """Morton/Z-order interleave of two ``bits``-wide nonnegative LONG
    columns: bit i of x lands at position 2i, bit i of y at 2i+1. Pure
    bigint shift/mask/or expression — codegen'd, exact, engine-portable."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xs} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ys} >> {i}) & 1) << {2 * i + 1})")
    return F.expr(" | ".join(terms))


def zvalue_sql(xs: str, ys: str, bits: int) -> str:
    """The identical interleave as DuckDB SQL text (oracle replay)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xs} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ys} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_layout(
    df: DataFrame,
    x_col,
    y_col,
    bits: int = 16,
    bucket_bits: int = 6,
    x_name: str = "x",
    y_name: str = "y",
) -> DataFrame:
    """Z-order (Morton-curve) layout assignment — the multi-dimensional
    clustering pass behind Delta/Iceberg OPTIMIZE ZORDER BY: scale both
    dimensions to ``bits``-wide integer grids, interleave the bits, and
    bucket rows by the top ``bucket_bits`` of the z-value. Rows in one
    z-bucket are range-local in BOTH dimensions at once, so a scan
    filtered on either column prunes most buckets — the summary this
    returns (per-bucket row count + min/max of each dimension) is
    exactly the file-skipping statistics a rewriter would persist.

    All arithmetic is bigint (scaling uses ``div``, never double
    division), so the oracle replays bit-for-bit. ENVELOPE: the scale
    product needs (x - min_x) * (2^bits - 1) < 2^63 — any real key
    range at bits=16.

    One pass + one bucket-keyed shuffle at any scale: global min/max
    come from a 1-row broadcast aggregate; the z computation is
    per-row; the summary groups on at most 2^bucket_bits keys. The
    actual rewrite is repartitionByRange(z) + write."""
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    base = df.select(
        x.cast("long").alias("_x"), y.cast("long").alias("_y")
    )
    rng = base.agg(
        F.min("_x").alias("_xmn"),
        F.max("_x").alias("_xmx"),
        F.min("_y").alias("_ymn"),
        F.max("_y").alias("_ymx"),
    )
    m = (1 << bits) - 1
    scaled = base.crossJoin(F.broadcast(rng)).select(
        "_x",
        "_y",
        F.expr(f"((_x - _xmn) * {m}) div greatest(_xmx - _xmn, 1)").alias("_xs"),
        F.expr(f"((_y - _ymn) * {m}) div greatest(_ymx - _ymn, 1)").alias("_ys"),
    )
    z = zvalue_expr("_xs", "_ys", bits)
    shift = 2 * bits - bucket_bits
    return (
        scaled.withColumn("_z", z)
        .groupBy(F.expr(f"_z >> {shift}").alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("_x").alias(f"min_{x_name}"),
            F.max("_x").alias(f"max_{x_name}"),
            F.min("_y").alias(f"min_{y_name}"),
            F.max("_y").alias(f"max_{y_name}"),
        )
    )


def daily_agg_states(
    df: DataFrame,
    key_cols: list[str],
    day_col,
    value_col: str,
    scale: int = 4,
) -> DataFrame:
    """Partial aggregate states at (key, day) grain: count + scaled-long
    sum + min/max. Every field is MERGEABLE (sum of sums, min of mins),
    which is the whole point — states computed on disjoint day slices
    recombine into exactly the full-history aggregate."""
    d = day_col if not isinstance(day_col, str) else F.col(day_col)
    s = 10 ** scale
    v = F.col(value_col)
    return df.groupBy(*key_cols, d.alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(v * s + F.lit(0.5)).cast("long")).alias("sum_q"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def merge_agg_states(
    states: DataFrame, key_cols: list[str], scale: int = 4
) -> DataFrame:
    """Fold partial states to final per-key aggregates. avg divides the
    exact integer sum back — order-free, oracle-replayable."""
    s = float(10 ** scale)
    return states.groupBy(*key_cols).agg(
        F.sum("n").alias("n_rows"),
        (F.sum("sum_q") / s).cast("double").alias("sum_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
        (F.sum("sum_q") / s / F.sum("n")).cast("double").alias("avg_value"),
    )


def incremental_rollup(
    df: DataFrame,
    key_cols: list[str],
    day_col,
    value_col: str,
    cutoff,
    scale: int = 4,
) -> DataFrame:
    """Incremental aggregate maintenance — the 100 TB pattern where
    history is NEVER rescanned: daily partial states for days before
    ``cutoff`` model the STORED state table (persist() — bench's
    untimed warmup materializes it, the honest model for precomputed
    state per CLAUDE.md); only the tail (day >= cutoff) aggregates
    fresh, and the merge of stored + fresh states equals the full
    recompute — which is precisely what the oracle verifies by running
    the flat aggregation over all history."""
    d = day_col if not isinstance(day_col, str) else F.col(day_col)
    stored = persist(
        daily_agg_states(
            df.filter(d < cutoff), key_cols, d, value_col, scale
        )
    )
    fresh = daily_agg_states(
        df.filter(d >= cutoff), key_cols, d, value_col, scale
    )
    return merge_agg_states(stored.unionByName(fresh), key_cols, scale)


def _fingerprint(df: DataFrame, keys: list[str], cols: list) -> DataFrame:
    """(*keys, n_rows, h1_sum, h2_sum): the row count and the sums of
    the first and second 32-bit words of each row's md5 record hash
    over ``cols`` — the one rule behind both public fingerprints."""
    from ..functions.cleaning import record_hash

    h = record_hash(cols)
    w1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    w2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return df.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum(w1).alias("h1_sum"),
        F.sum(w2).alias("h2_sum"),
    )


def table_fingerprint(df: DataFrame, cols: list | None = None) -> DataFrame:
    """Order-independent table checksum: one row
    (n_rows, h1_sum, h2_sum) where h1/h2 are the sums of the first and
    second 32-bit words of each row's md5 record hash
    (functions/cleaning.record_hash — the caller canonicalizes doubles
    through DECIMAL in ``cols`` when cross-engine parity matters).

    The anti-entropy primitive: two tables are (almost surely) equal as
    MULTISETS iff their fingerprints match — compare replicas, verify a
    migration, or check a restated partition without moving any data.
    Commutative sums make it partition-order- and engine-independent,
    and mergeable: fingerprint partitions separately and add.

    Scale: one narrow scan + a map-side-combined scalar agg — no
    shuffle beyond the 1-row fold. 32-bit words summed as longs
    overflow bigint only past ~2^31 rows PER AGGREGATED GROUP; shard by
    partition and merge (the mergeable property above) before that."""
    return _fingerprint(df, [], cols if cols is not None else df.columns)


def rendezvous_shard(key_col, n_shards: int, salt: str = "rv0") -> F.Column:
    """Rendezvous (highest-random-weight) shard assignment: the shard
    whose ``md5(key ':' salt ':' shard)`` is lexicographically largest
    wins. The property that matters at 100 TB: adding shard N+1 moves
    ONLY the ~1/(N+1) of keys whose new hash beats their old winner —
    every other key keeps its shard, so a reshard rewrites 1/(N+1) of
    the data instead of (N)/(N+1) under mod-N hashing.

    Pure per-row expression over an ``n_shards``-element string array —
    no shuffle, no state, no lookup table to ship; md5 makes it
    engine-portable (DuckDB: ``list_position(hs, list_max(hs)) - 1``
    over the identical ``list_transform(generate_series(...))``)."""
    if n_shards <= 0:
        raise ValueError(f"rendezvous_shard: n_shards must be positive, got {n_shards}")
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda s: F.md5(
            F.concat(c.cast("string"), F.lit(f":{salt}:"), s.cast("string"))
        ),
    )
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def reshard_audit(
    df: DataFrame, key_col: str, n_before: int, n_after: int, salt: str = "rv0"
) -> DataFrame:
    """Reshard movement audit: assign every key under the ``n_before``-
    and ``n_after``-shard rendezvous layouts in ONE narrow scan and
    roll up, per destination shard, how many rows land there and how
    many of those MOVED. Under rendezvous hashing growing N -> N+1
    moves keys only INTO the new shards (an existing shard can never
    start beating a hash it already lost to), so ``n_moved`` is 0 for
    every surviving shard — the invariant pytest pins, and the reason
    a reshard at 100 TB is an append-shaped copy, not a full rewrite.

    Shape: two per-row array expressions + one tiny groupBy on the
    shard id (≤ n_after groups); the corpus is scanned once and never
    shuffled at row width."""
    before = rendezvous_shard(key_col, n_before, salt)
    after = rendezvous_shard(key_col, n_after, salt)
    return (
        df.select(
            before.alias("shard_before"), after.alias("shard_after")
        )
        .groupBy("shard_after")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("shard_before") != F.col("shard_after"), 1).otherwise(0)
            ).cast("long").alias("n_moved"),
        )
    )


def table_fingerprint_by(
    df: DataFrame, group_col: str, cols: list | None = None
) -> DataFrame:
    """Per-group ``table_fingerprint`` — one (group, n_rows, h1_sum,
    h2_sum) row per group, in the same single map-side-combined pass.
    The mergeable property is the point: summing the group rows yields
    exactly the whole-table fingerprint, so a shard manifest built from
    this can be verified piecewise AND in aggregate against the source
    table (see ``runner.py shard``). ``cols`` defaults to every column
    except ``group_col``."""
    if cols is None:
        cols = [c for c in df.columns if c != group_col]
    return _fingerprint(df, [group_col], cols)
