"""Iterative graph algorithms (SURVEY §7.6) — the third house pattern
for fixed-round iteration after large-star/small-star connected
components (dedup_clusters) and quantized k-means (kmeans).

PageRank here is INTEGER-EXACT: ranks are scaled bigints, every
per-edge contribution is a floor division (``rank div out_degree``),
and the damping update is integer multiply + floor divide — no floats
anywhere until the final display column. Floor-div PageRank loses the
sub-integer remainder mass (and dangling-node mass — the standard
"lost mass" variant), which is fine for RANKING purposes and buys full
cross-engine determinism: DuckDB replays the identical ``//`` chain
bit-for-bit, something float PageRank (order-dependent sums) can never
do.

Scale: each round is one edges⋈ranks equi-join (both sides partitioned
on the src key) + one dst-keyed aggregation — the textbook distributed
PageRank round. The static edge+degree frame feeds every round, so it
is shared; ranks chain from round to round. Unrolled fixed
rounds (like kmeans) keep the whole run one deterministic plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import persist, shared, stored

PR_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Fixed-round integer-exact PageRank over a directed edge list.

    Output: (node, rank_q, rank) — the scaled-int rank and its double
    display form. Nodes are everything appearing as a src or dst; a
    node with no in-edges keeps the base (teleport) term only.
    ``damping_pct`` is an integer percent so the update stays in
    integer arithmetic: r' = ((100-d)·scale div 100) div N
    + (d · Σ_in(r div out_deg)) div 100.

    The iteration runs in DENSE INT32 RANK SPACE (r8 verdict task —
    the census's ``_vertex_ranks`` dictionary applied to the edge
    frame): vertex ids are dictionary-encoded once, the per-round
    edges⋈ranks exchange carries (int32, int32, long) instead of two
    raw ids of arbitrary width, and one vertex-sized decode join at
    the end restores the ids. The encoded edge+degree frame and the
    dictionary model STORED state reused by every round, so both are
    ``persist()``-cached (CLAUDE.md cache rule; >2^31 vertices raises
    — shard the graph first). Per-round arithmetic is unchanged, so
    the oracle replays bit-for-bit."""
    if not 0 < damping_pct < 100:
        raise ValueError(f"pagerank: damping_pct must be in (0,100), got {damping_pct}")

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Both stored frames are persisted PRE-PARTITIONED on the rank key
    # (the dictionary on r, the edge frame on its probe key rs) so the
    # per-round ranks⋈edges join, the ranks⋈contrib left join, and the
    # final decode join all land co-partitioned. The partition COUNT
    # follows the edge volume (~24 MB of encoded edges per partition),
    # not the session shuffle constant: the r9 A/B showed 32 cached
    # partitions of a 26k-edge graph turning every round into a 32-task
    # micro-stage whose scheduling floor tripled the query (1.5 s vs
    # 0.5 s), while at 100 TB the same rule yields thousands of
    # partitions that each fit executor memory. The edge count is one
    # routing job (triangle_stats_auto's pattern — catalog stats at
    # warehouse scale); e is persisted so the count's scan is reused by
    # the degree/encode builds.
    e = persist(e)
    n_edges = e.count()
    parts = max(1, -(-n_edges // 1_500_000))
    # id-ordered dense dictionary over ALL nodes (constant d): the
    # order is irrelevant to the arithmetic — only density matters
    rdict = persist(
        _dense_ids(nodes.select(F.col("node").alias("v"))).repartition(parts, "r")
    )
    deg = e.groupBy("src").agg(F.count("*").alias("od"))
    # the static per-round probe side: every edge with its src degree,
    # both endpoints rank-encoded (rs, rd int32; od long)
    ed = persist(
        e.join(deg, "src")
        .join(rdict.withColumnsRenamed({"v": "src", "r": "rs"}).hint("shuffle_hash"), "src")
        .join(rdict.withColumnsRenamed({"v": "dst", "r": "rd"}).hint("shuffle_hash"), "dst")
        .select("rs", "rd", "od")
        .repartition(parts, "rs")
    )
    # n_nodes is MODEL state like every index build's collected frozen
    # model (one 1-row scalar off the cached dictionary, materialized at
    # plan-build time) — inlining it as a literal removes one broadcast
    # exchange + cache-scan job per round. At 100 TB the count comes
    # from the vertex table's catalog stats instead.
    n_nodes = rdict.count()
    if n_nodes == 0:
        # empty edge frame -> no nodes: return an empty typed result
        # instead of dividing by zero at plan-build time (the pre-r9
        # all-DataFrame plan degraded gracefully here)
        return rdict.select(
            F.col("v").alias("node"),
            F.lit(0).cast("bigint").alias("rank_q"),
            F.lit(0.0).alias("rank"),
        )
    base = ((100 - damping_pct) * scale) // 100 // n_nodes
    init_rq = scale // n_nodes
    rank_of_s = F.lit(base) + F.expr(f"({damping_pct} * coalesce(s, 0)) div 100")
    if iterations == 0:
        return rdict.select(
            F.col("v").alias("node"),
            F.lit(init_rq).alias("rank_q"),
            F.lit(float(init_rq) / float(scale)).alias("rank"),
        )
    # The loop keeps ranks SPARSE — only nodes that received mass
    # appear; everyone else's rank is the constant ``base``, folded
    # into the edge join's coalesce instead of a per-round node-table
    # zero-fill left join (the r9 A/B: that left join doubled the
    # sequential stage chain, the dominant cost at every sf once the
    # data fits a handful of partitions). Round 1 needs no join at all:
    # the initial rank is uniform, so the first contribution pass is a
    # pure aggregation over the cached edge frame.
    contrib = ed.groupBy("rd").agg(
        F.sum(F.expr(f"{init_rq} div od")).alias("s")
    )
    for _ in range(iterations - 1):
        contrib = (
            ed.join(contrib.withColumnRenamed("rd", "rs"), "rs", "left")
            .withColumn("rq", rank_of_s)
            .select("rd", F.expr("rq div od").alias("c"))
            .groupBy("rd")
            .agg(F.sum("c").alias("s"))
        )
    # one vertex-sized decode join restores ids AND zero-fills the
    # never-contributed nodes in the same pass
    return rdict.join(
        contrib.withColumnRenamed("rd", "r"), "r", "left"
    ).select(
        F.col("v").alias("node"),
        rank_of_s.alias("rank_q"),
        (rank_of_s.cast("double") / F.lit(float(scale))).alias("rank"),
    )


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_groups: int = 1,
) -> DataFrame:
    """Undirected co-occurrence edge list ("frequently bought
    together"): one edge per item pair sharing a group, weighted by the
    number of distinct groups containing both. Output (a, b, n_groups)
    with a < b so each unordered pair appears once.

    Scale: the self-join is partitioned on the GROUP key, so per-task
    fanout is (items-per-group choose 2) — bounded by the natural group
    size (basket, session, document), never by corpus size; the pair
    aggregation map-side combines. A pathological mega-group (one order
    with 10^5 items) is the skew case — salt or cap group size upstream
    if the domain allows it.

    Plan shape (measured, sf0.1): the raw rows join directly (no
    distinct-first pre-shuffle — countDistinct(group) absorbs duplicate
    (group, item) rows instead, saving one full shuffle), and the
    ``shuffle_hash`` hint skips the sort-merge sort of the pair stream:
    1.87 s → 1.02 s. The hash build side is ONE shuffle partition of
    (group, item) rows — bounded by shuffle-partition sizing, the
    standard SHJ envelope."""
    r = df.select(F.col(group_col).alias("g"), F.col(item_col).alias("a")).filter(
        F.col("a").isNotNull()
    )
    pairs = r.join(r.withColumnRenamed("a", "b").hint("shuffle_hash"), "g").filter(
        F.col("a") < F.col("b")
    )
    out = pairs.groupBy("a", "b").agg(F.countDistinct("g").alias("n_groups"))
    if min_groups > 1:
        out = out.filter(F.col("n_groups") >= min_groups)
    return out


def cooccurrence_pairs(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Unweighted distinct co-occurrence pairs (a < b) — the edge set
    the triangle census consumes; skips ``cooccurrence_edges``'s
    countDistinct expand when the weight isn't needed."""
    r = df.select(F.col(group_col).alias("g"), F.col(item_col).alias("a")).filter(
        F.col("a").isNotNull()
    )
    return (
        r.join(r.withColumnRenamed("a", "b").hint("shuffle_hash"), "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# stored co-occurrence pair frames (state.stored — the stored-table
# lifecycle): the co-purchase graph projection is derived
# state every graph analysis reads (exact census, DOULION sample, the
# wedge-routed auto entry) — in a warehouse it is a materialized
# fact-derived edge table, built once per source snapshot, not rebuilt
# per query.  Same argument as the ANN index frames / bigram LM / BPE
# merge table.


def cooccurrence_pairs_frame(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """``cooccurrence_pairs`` as STORED state: persisted and memoized by
    input-plan semantics — the distinct (a < b), materialized edge
    frame the triangle functions take as input."""
    return stored(
        "graph.pairs",
        df,
        (group_col, item_col, "cooc_pairs"),
        lambda: cooccurrence_pairs(df, group_col, item_col),
    )


def _bucket_ranks(
    b: DataFrame, order: list[str], caller: str, overflow_hint: str
) -> DataFrame:
    """(v, r) dense int32 ranks 1..|V| of a vertex frame whose rows
    already carry ``_bucket``: a per-bucket ``row_number`` in ``order``
    plus each bucket's exclusive offset — the ``stats.ordered_prefix_sums``
    fold over per-bucket counts, so ranks follow (bucket, order). The
    bucketed frame feeds the window, the counts and the join, so it is
    persisted. A graph with more than 2^31-1 vertices raises
    (raise_error) rather than silently wrapping — at that size the
    caller's sampled/sharded route is the default anyway."""
    from pyspark.sql import Window as W

    b = persist(b)
    w = W.partitionBy("_bucket").orderBy(*order)
    local = b.withColumn("_lr", F.row_number().over(w))
    offsets = (
        b.groupBy("_bucket")
        .agg(F.count("*").alias("_n"))
        .agg(F.sort_array(F.collect_list(F.struct("_bucket", "_n"))).alias("_ts"))
        .select(
            F.explode(
                F.expr(
                    "transform(_ts, (t, i) -> struct(t._bucket AS _bucket, "
                    "aggregate(slice(_ts, 1, i), 0L, (acc, x) -> acc + x._n)"
                    " AS _off))"
                )
            ).alias("_o")
        )
        .select("_o.*")
    )
    r = F.col("_lr") + F.col("_off")
    return local.join(F.broadcast(offsets), "_bucket").select(
        "v",
        F.when(r <= F.lit(2**31 - 1), r.cast("int"))
        .otherwise(
            F.expr(
                f"CAST(raise_error('{caller}: >=2^31 vertices "
                "overflow the int32 rank dictionary — "
                f"{overflow_hint}') AS INT)"
            )
        )
        .alias("r"),
    )


def _vertex_ranks(deg: DataFrame) -> DataFrame:
    """Dense int32 vertex ranks under the total order ≺ = (degree, id)
    — the per-stage dictionary that lets a wide vertex-keyed exchange
    carry 4-byte ranks instead of 8-byte ids (+ any carried degree
    column): rank comparisons reproduce ≺ exactly, and callers only
    ever AGGREGATE in rank space (census wedges, pagerank contribution
    sums), so nothing but a final vertex-sized decode join translates
    back. Callers that don't care about the order pass a constant
    ``d`` and get an id-ordered dictionary.

    The buckets are a range partition on (d, v) tagged with
    ``spark_partition_id``, so bucket order is ≺ order and
    ``_bucket_ranks`` (the house two-pass form — no partitionless
    ``Window.orderBy`` anywhere) ranks in ≺. The tag is
    nondeterministic: a rebuilt plan never cache-matches this
    dictionary (see ``_dense_ids``)."""
    return _bucket_ranks(
        deg.repartitionByRange(32, F.col("d"), F.col("v")).withColumn(
            "_bucket", F.spark_partition_id()
        ),
        ["d", "v"],
        "triangle census",
        "use triangle_sample_stats",
    )


def _dense_ids(ids: DataFrame) -> DataFrame:
    """Dense int32 ids (v, r) over a distinct vertex frame, in NO
    particular order — the dictionary for iterative loops (pagerank)
    where only density matters, not the census's (degree, id) total
    order. Same ``_bucket_ranks`` fold as ``_vertex_ranks`` but the
    bucket is a DETERMINISTIC hash of the id instead of
    ``spark_partition_id`` over a range exchange: a plan containing a
    nondeterministic expression never cache-matches a rebuilt copy of
    itself, so the ``_vertex_ranks`` dictionary must re-materialize on
    every fresh query plan — fine for the census's one-shot use, wrong
    for a STORED dictionary that every serving run should read warm
    (the r9 pagerank A/B: the rebuilt-per-plan dictionary put its whole
    build chain back into the timed run). Everything here is a pure
    function of the data, so CacheManager dedupes rebuilt plans and the
    persisted dictionary is read, not rebuilt."""
    return _bucket_ranks(
        ids.withColumn("_bucket", F.pmod(F.xxhash64("v"), F.lit(32)).cast("int")),
        ["v"],
        "pagerank",
        "shard the graph",
    )


def _degree_oriented(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Re-orient an undirected (a, b) edge list so each edge points
    from its lower endpoint to its higher endpoint under the total
    order ≺ = (degree, id) — the compact-forward relabeling that caps
    per-vertex out-degree at O(√edges) on power-law graphs — AND
    rank-encode both endpoints (``_vertex_ranks``) so everything
    downstream of this point is 4-byte ints: the oriented edge frame
    shrinks (a, b, db) long×3 = 24 B to (ra, rb) int×2 = 8 B, and the
    wedge exchange (the census cost driver — 1.48 B rows at sf1)
    halves its key bytes. Two vertex-keyed joins attach the endpoint
    ranks; the swap itself is a projection. ``deg`` must be the
    undirected degree table (v, d). The rank side is the hash build
    (vertex-sized ≤ edge-sized; no reason to sort the edge stream
    twice just to attach two ints).

    Output (ra, rb) with ra ≺ rb: rank order IS ≺, so no degree
    column rides along — the wedge stage orders out-neighbors by rb
    directly."""
    ranks = _vertex_ranks(deg)
    ed = e.join(
        ranks.withColumnsRenamed({"v": "a", "r": "_ra"}).hint("shuffle_hash"),
        "a",
    ).join(
        ranks.withColumnsRenamed({"v": "b", "r": "_rb"}).hint("shuffle_hash"),
        "b",
    )
    lower_first = F.col("_ra") < F.col("_rb")
    return ed.select(
        F.when(lower_first, F.col("_ra")).otherwise(F.col("_rb")).alias("ra"),
        F.when(lower_first, F.col("_rb")).otherwise(F.col("_ra")).alias("rb"),
    )


# stored census-prep frames (state.stored — the stored-table
# lifecycle): the undirected degree summary and the rank-encoded
# degree-oriented adjacency projection are pure functions of the stored
# edge table that a graph warehouse materializes NEXT TO it (every
# census, router, and audit pass reads them); rebuilding both per
# invocation repeats two vertex-keyed joins plus the two-pass rank
# build over identical edges — and under bench.py's timed-construction
# clock the old per-invocation checkpoint paid that prep in EVERY
# timed run instead of once in the stored build.  Keyed on the PREPARED
# edge frame's plan; ``cooccurrence_pairs_frame`` hands every triangle
# entry the same persisted object, so hits are guaranteed there.


def _degrees(e0: DataFrame) -> DataFrame:
    """Undirected degree table (v, d) of an (a, b) edge frame."""
    return (
        e0.select(F.col("a").alias("v"))
        .unionByName(e0.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )


def census_degree_frame(e0: DataFrame) -> DataFrame:
    """``_degrees`` of a prepared (a < b, distinct) edge frame as
    memoized STORED state."""
    return stored("graph.census", e0, ("census_deg",), lambda: _degrees(e0))


def census_oriented_frame(e0: DataFrame, deg: DataFrame) -> DataFrame:
    """Rank-encoded degree-oriented edge list (``_degree_oriented``) of a
    prepared edge frame as memoized STORED state — the census's
    adjacency projection.  ``deg`` is the caller's degree table
    (``census_degree_frame``), so a memo MISS doesn't build a second,
    semantically identical degree aggregate (r13 ADVICE)."""
    return stored(
        "graph.census",
        e0,
        ("census_oriented",),
        lambda: _degree_oriented(e0, deg),
    )


def doulion_oriented_frame(e0: DataFrame, k: int, salt: str) -> DataFrame:
    """Degree-oriented edge list of the DETERMINISTIC 1/k DOULION sample
    of a prepared edge frame as memoized STORED state: the md5 keep
    filter is a pure function of (edge, salt), so the sampled sketch
    graph is derived state exactly like the full oriented projection —
    the sampled entry and the wedge-routed auto entry (past the census
    budget) read ONE build."""
    return stored(
        "graph.census",
        e0,
        ("doulion_oriented", k, salt),
        lambda: _doulion_oriented(e0, k, salt),
    )


def _doulion_oriented(e0: DataFrame, k: int, salt: str) -> DataFrame:
    from .sampling import hash_uniform

    edge_key = F.concat_ws(
        ":", F.col("a").cast("string"), F.col("b").cast("string")
    )
    es0 = shared(e0.filter(hash_uniform(edge_key, salt) < 1.0 / k))
    # degrees of the SAMPLED graph — that's the graph being counted: a
    # hub that survives sampling must not regrow the wedge hot spot
    return _degree_oriented(es0, _degrees(es0))


def _closed_wedge_count(
    e: DataFrame, n_edges: int, out_col: str = "n_triangles"
) -> DataFrame:
    """Count closed wedges (= triangles, each exactly once) over a
    rank-oriented edge list from ``_degree_oriented`` holding
    ``n_edges`` edges.

    OUT-PAIR form: a wedge is a pair of out-neighbors (u, w) of the
    same low vertex, ordered u < w in rank space (rank order is the
    census ≺, so this is the same wedge set as ordering by (degree,
    id)) — the closing edge, stored as u→w, matches a plain equi-join.
    Per-vertex wedge fan-out is C(out, 2) instead of the path-join's
    in·out: half the closing-join input on uniform graphs and immune
    to the in-degree of hubs (a hub's out-degree is 0 → zero wedges).
    Every row here is two int32s.

    While ``n_edges`` fits ``MAX_CENSUS_EDGES`` (read at call time) the
    closing join BROADCASTS the edge set as single packed-long keys
    (ranks are 1..|V| < 2^31, so ``u << 32 | w`` is collision free and
    hits the LongHashedRelation fast path) instead of shuffling the
    wedge stream: wedges outnumber edges by the average out-degree
    (sf1: 1.48 B wedges vs 12 M edges — a ~12 GB exchange), so the
    wedge stream stays fused in its generating map stage and probes a
    broadcast hash map, never hitting an exchange. Past the budget —
    1/k of an unbounded graph is still unbounded (r10 ADVICE), so the
    sampled path checks its SURVIVING edge count too — it is the
    shuffle_hash closing join, which pays the wedge exchange but never
    driver-OOMs. The wedge self-join keeps ``shuffle_hash`` either way
    — sorting even the edge stream twice to build wedges is waste."""
    p = (
        e.alias("x")
        .join(e.alias("y").hint("shuffle_hash"), F.col("x.ra") == F.col("y.ra"))
        .filter(F.col("x.rb") < F.col("y.rb"))
        .select(
            (
                F.shiftleft(F.col("x.rb").cast("bigint"), 32)
                + F.col("y.rb").cast("bigint")
            ).alias("_uw")
        )
    )
    closing = e.select(
        (
            F.shiftleft(F.col("ra").cast("bigint"), 32) + F.col("rb").cast("bigint")
        ).alias("_uw")
    )
    if n_edges <= MAX_CENSUS_EDGES:
        closed = p.join(F.broadcast(closing), "_uw")
    else:
        closed = p.join(closing.hint("shuffle_hash"), "_uw")
    return closed.agg(F.count("*").alias(out_col))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census over a distinct (a < b) edge frame — the
    stored ``cooccurrence_pairs_frame`` or any frame prepared the same
    way: one row (n_edges, n_wedges, n_triangles, clustering_coeff).

    The compact-forward shape with DEGREE ORDERING: every edge is
    re-oriented to point from its lower-(degree, id) endpoint to the
    higher one (``_degree_oriented``), a wedge is an ordered pair of
    out-neighbors of one low vertex, and a triangle x≺y≺z is found
    exactly once as that pair (y, z) closed by the stored y→z edge
    (``_closed_wedge_count``) — two keyed shuffles over edge/wedge
    volume, no enumeration of all pairs. n_wedges is the exact
    open-wedge count Σ_v C(deg(v), 2) from the UNDIRECTED degree table
    (one extra small aggregate), so the global clustering coefficient
    3·triangles/wedges is an exact-integer ratio rendered as a double
    identically in any engine.

    The degree summary and the oriented adjacency are memoized stored
    state next to the edge table (``census_degree_frame`` /
    ``census_oriented_frame``) — prep runs once per stored graph, not
    once per census invocation. The closing-join strategy is decided by
    COUNTING the oriented edge frame against ``MAX_CENSUS_EDGES`` — the
    measured, exact bound, and free under the checkpoint model (the
    count materializes the ``shared`` frame the census reads next), so
    a past-budget graph degrades to the shuffle_hash closing join
    instead of attempting a multi-GB broadcast (r11 VERDICT).

    Scale: candidate-wedge volume concentrates on high-degree
    vertices; degree ordering caps per-vertex wedge work at
    C(out(v), 2) with out(v) ≤ √(2·edges) — a power-law hub has
    out-degree 0 (everything orders below it) and generates ZERO
    wedges instead of C(deg, 2). Cost: two vertex-keyed degree joins;
    output is orientation-invariant, so the oracle replays unchanged.
    Measured sf1 (12M edges, near-uniform degree — the WORST case for
    the relabeling, which pays its joins without pruning much):
    path-form id-ordering 20.1 s → degree-ordered out-pair 19.1 s,
    vs 58.6 s for DuckDB's same census; on skewed graphs the gap is
    unbounded.

    Every graph join carries a ``shuffle_hash`` hint: sort-merge would
    SORT the wedge stream (40×-edge volume at this density) just to
    probe it against the edge list — hashing the edge side instead is
    3.3× faster measured (6.9 s → 2.1 s, sf0.1). The build is one
    shuffle partition of 2-long edge rows; if a partition ever
    outgrew executor memory, dropping the hint falls back to SMJ."""
    deg = census_degree_frame(edges)
    # the wedge self-join, closing join and count read e four times
    e = shared(census_oriented_frame(edges, deg))
    return _census(e, deg, e.count())


def _census(e: DataFrame, deg: DataFrame, n_edges: int) -> DataFrame:
    """The census output over the shared oriented edge frame ``e`` and
    its degree table: ``n_edges`` is the caller's measured edge count,
    which picks the closing join (``_closed_wedge_count``)."""
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    tri = _closed_wedge_count(e, n_edges)
    n_e = e.agg(F.count("*").alias("n_edges"))
    return (
        n_e.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULL (not NaN / ANSI error) when the graph has no wedges
            # at all — e.g. a perfect matching (every degree <= 1)
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("clustering_coeff"),
        )
    )


def triangle_sample_stats(edges: DataFrame, k: int = 4, salt: str = "tri") -> DataFrame:
    """DOULION-style sampled triangle estimate over a distinct (a < b)
    edge frame — the 100 TB path where the exact census
    (``triangle_stats``) is too expensive: keep each edge with
    probability 1/k via the deterministic md5 uniform
    (operators/sampling.hash_uniform on the "a:b" edge key — same
    sample on any engine/cluster/rerun), count triangles on the
    sampled graph, scale by k³ (a surviving triangle needs all three
    edges kept). Wedge volume — the cost driver — shrinks by k², so
    k=4 is ~16× cheaper; variance falls out of the triangle count
    itself (Tsourakakis et al.'s unbiased estimator).

    ``k`` must be a power of two so 1/k is exact in float64 and the
    keep-filter compares identically in every engine.

    The sampled sketch graph's oriented projection is memoized stored
    state (``doulion_oriented_frame``). 1/k of an unbounded graph is
    still unbounded (r10 ADVICE), so the closing join is picked by
    COUNTING the survivors against ``MAX_CENSUS_EDGES`` — the exact
    bound, and free: the count materializes the ``shared`` survivor
    frame the census then reads, and bench.py times plan construction
    (the r11 clock fix), so nothing is displaced out of any timed
    region (an earlier cut routed on the raw input count to keep
    construction light, which re-ran the edge-prep pipeline twice)."""
    if k & (k - 1):
        raise ValueError(f"k must be a power of two, got {k}")
    es = shared(doulion_oriented_frame(edges, k, salt))  # the census reads es four times
    tri = _closed_wedge_count(es, es.count(), out_col="n_triangles_sampled")
    n_e = es.agg(F.count("*").alias("n_edges_sampled"))
    return n_e.crossJoin(F.broadcast(tri)).select(
        "n_edges_sampled",
        "n_triangles_sampled",
        (F.col("n_triangles_sampled") * F.lit(k**3)).alias("est_n_triangles"),
    )


# Broadcast budget for the census's packed-long closing join: past
# this many (oriented) edges the build side stops fitting a sane
# broadcast and the closing join degrades to shuffle_hash. This is a
# MEMORY bound, distinct from the routing bound below.
MAX_CENSUS_EDGES = 20_000_000

# Routing bound for the exact census, in WEDGES — the census's true
# cost driver (the wedge stream is generated and probed row by row;
# edge count alone mispredicts by the graph's density). Measured on
# local[32]: 148M wedges (sf0.1 co-purchase graph, 1.2M edges) = 3.4 s
# census; 1.48B wedges (sf1, 12M edges) = 23.7 s steady with a
# documented 20-40 s swing bracket under host load — past the point
# where an exact count is a sane default when an unbiased 1/k³
# estimate costs k² less. 400M wedges ≈ 8-10 s of census at the
# measured ~50-60M wedges/s: sf0.1 stays census, sf1 routes to
# DOULION (r12 verdict #3 — the switch is never silent, the method
# column records it).
MAX_CENSUS_WEDGES = 400_000_000


def triangle_stats_auto(edges: DataFrame, k: int = 4, salt: str = "tri") -> DataFrame:
    """ONE entry point for triangle counting (VERDICT r6 task 7) over a
    distinct (a < b) edge frame: runs the exact census
    (``triangle_stats``) while the graph's exact open-wedge count
    Σ_v C(deg(v), 2) — the census's cost driver — is within
    ``MAX_CENSUS_WEDGES`` (read at call time), and auto-routes to the
    DOULION sampled estimate (``triangle_sample_stats`` — unbiased k³
    scale-up, wedge volume cut k²) beyond it (r13: routing moved from
    edge count to wedge count; a near-clique of 1M edges has ~1000×
    the wedge work of a sparse 1M-edge graph, so edges alone mispredict
    the cost by the density). The ``method`` column says which path
    produced the number — the switch is never silent.

    Routing cost: the router's degree table is the census's stored
    degree summary (``census_degree_frame``) — on the census path the
    router's aggregate is work the census was about to do anyway, and
    the router's edge count picks the census's closing join, so the
    census pays no count job of its own; on the sampled path it is one
    edge-volume aggregate. At 100 TB both counts would come from the
    edge table's catalog stats instead.

    Output (both paths): (method, n_edges, n_triangles_est,
    clustering_coeff) — clustering_coeff is NULL on the sampled path
    (the sampled wedge count is biased by k², so the exact-integer
    coefficient contract can't be kept; take the census if you need
    it)."""
    deg = census_degree_frame(edges)
    n_edges = edges.count()
    n_wedges = (
        deg.agg(F.sum(F.expr("d * (d - 1) div 2")).alias("w")).first()["w"]
        or 0
    )
    if n_wedges <= MAX_CENSUS_WEDGES:
        e = shared(census_oriented_frame(edges, deg))
        return _census(e, deg, n_edges).select(
            F.lit("census").alias("method"),
            "n_edges",
            F.col("n_triangles").cast("long").alias("n_triangles_est"),
            "clustering_coeff",
        )
    return triangle_sample_stats(edges, k=k, salt=salt).select(
        F.lit(f"doulion_k{k}").alias("method"),
        # cast: lit(int) infers IntegerType under 2^31, but the census
        # route's count() is LongType — one schema across both routes
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.col("est_n_triangles").cast("long").alias("n_triangles_est"),
        F.lit(None).cast("double").alias("clustering_coeff"),
    )


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
) -> str:
    """DuckDB replay: the identical floor-division chain, rounds
    unrolled as CTEs. ``edges_sql`` must select columns (src, dst)."""
    d = damping_pct
    parts = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql})"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n_nodes FROM nodes)",
        "deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1)",
        f"r0 AS (SELECT node, {scale} // n_nodes AS rq FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst, CAST(SUM(r.rq // deg.od) AS BIGINT) AS s"
            f" FROM e JOIN r{i - 1} r ON r.node = e.src"
            f" JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node,"
            f" ((({100 - d} * {scale}) // 100) // n_nodes)"
            f" + (({d} * coalesce(c{i}.s, 0)) // 100) AS rq"
            f" FROM nodes CROSS JOIN nn"
            f" LEFT JOIN c{i} ON c{i}.dst = nodes.node)"
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT node, CAST(rq AS BIGINT) AS rank_q,
           CAST(rq AS DOUBLE) / {float(scale)} AS rank
    FROM r{iterations}
    """
    )


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Symmetrized distinct neighbor list (a, b): each undirected edge
    appears in both directions, self-loops dropped. One distinct
    shuffle over 2x edge volume; every caller persists the result as
    the stored per-round probe side."""
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    return (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection) over an undirected graph: every node starts labeled
    with its own id; each round every node adopts the most frequent
    label among its neighbors, ties broken toward the SMALLEST label
    (the struct-min argmax — ``min(struct(-cnt, lbl))`` — so the
    update is a pure function of the round's inputs and the oracle
    replays bit-for-bit). Output: (node, label) after ``rounds``.

    Scale shape (the pagerank loop's): the symmetrized edge frame is
    STORED state reused by every round — persisted and partitioned by
    edge volume, not the session shuffle constant — and the iterated
    label state stays node-sized. Per round: one labels⋈edges hash
    join plus a two-level count/argmax aggregation, all map-side
    combinable; nothing ever materializes beyond edge volume. Labels
    stay raw ids (no rank dictionary): like dedup_clusters (r9 A/B,
    PERF.md), the per-round rows are two longs — the four dictionary
    joins would cost more than they save. Fixed-round by design: on
    (near-)bipartite graphs synchronous LPA runs a period-2 orbit that
    never reaches a lag-1 fixpoint (``label_propagation_damped`` breaks
    it)."""
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")
    labels = _lpa_rounds(_lpa_prepare(edges, src_col, dst_col), rounds)
    return labels.select("node", F.col("lbl").alias("label"))


def _lpa_prepare(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Symmetrize + persist the edge frame that every LPA round
    rejoins (stored state, partitioned by edge volume)."""
    # partition count from the PRE-distinct edge count (one cheap scan,
    # 2x for symmetrization — an upper bound is all the sizing needs),
    # so exactly ONE copy of the symmetrized frame is ever cached
    n_approx = 2 * edges.count()
    parts = max(1, -(-n_approx // 1_500_000))
    return persist(_undirected(edges, src_col, dst_col).repartition(parts, "a"))


def _lpa_rounds(u: DataFrame, rounds: int) -> DataFrame:
    """Run the synchronous LPA loop over a prepared (symmetrized,
    persisted) edge frame and return the last round's (node, lbl)."""
    # round 1 needs no join: every neighbor's label is the neighbor id
    # (and u is cached partitioned on the grouping key — no exchange)
    labels = (
        u.groupBy(F.col("a").alias("node"))
        .agg(F.min(F.col("b")).alias("lbl"))
    )
    arg = F.min(F.struct((-F.col("cnt")).alias("negcnt"), F.col("lbl")))
    for _ in range(rounds - 1):
        # join on 'a' — the cached frame's partitioning key — so only
        # the NODE-sized label frame shuffles each round; u is
        # symmetric, so collecting neighbor-a labels grouped by b is
        # the same neighborhood aggregation
        labels = (
            u.join(
                labels.withColumnsRenamed({"node": "a"}).hint("shuffle_hash"), "a"
            )
            .groupBy(F.col("b").alias("node"), "lbl")
            .agg(F.count("*").alias("cnt"))
            .groupBy("node")
            .agg(arg.getField("lbl").alias("lbl"))
        )
    return labels


def label_propagation_damped(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Self-vote-damped synchronous LPA — the orbit-breaking variant
    (r11 VERDICT #7): each round every node votes its OWN current
    label alongside its neighbors' labels before the frequency argmax
    (ties still break toward the smallest label). On (near-)bipartite
    structure plain synchronous LPA swaps the two sides' labels
    forever (a period-2 orbit — the sf0.001 citation graph does
    exactly this); the self-vote anchors each node, so a swap must now
    OUTVOTE the incumbent instead of merely tying it, and the bipartite
    fixture reaches a lag-1 fixpoint (pytest-pinned). Deterministic and
    oracle-replayed: the self-vote is one extra node-sized UNION ALL
    into the per-round count — same cost shape as ``label_propagation``
    (stored symmetrized edge frame, node-sized state, edge-sized
    rounds)."""
    if rounds < 1:
        raise ValueError(
            f"label_propagation_damped: rounds must be >= 1, got {rounds}"
        )
    u = _lpa_prepare(edges, src_col, dst_col)
    arg = F.min(F.struct((-F.col("cnt")).alias("negcnt"), F.col("lbl")))
    # round 1 from identity labels needs no join: neighbor votes are
    # the neighbor ids themselves, the self-vote is the node's own id
    votes = u.select(F.col("a").alias("node"), F.col("b").alias("lbl")).unionByName(
        u.select(F.col("a").alias("node"), F.col("a").alias("lbl")).distinct()
    )
    labels = (
        votes.groupBy("node", "lbl")
        .agg(F.count("*").alias("cnt"))
        .groupBy("node")
        .agg(arg.getField("lbl").alias("lbl"))
    )
    for _ in range(rounds - 1):
        # the neighbor join and the self-vote union both read it
        labels = shared(labels)
        nbr = u.join(
            labels.withColumnsRenamed({"node": "a"}).hint("shuffle_hash"), "a"
        ).select(F.col("b").alias("node"), "lbl")
        labels = (
            nbr.unionByName(labels.select("node", "lbl"))
            .groupBy("node", "lbl")
            .agg(F.count("*").alias("cnt"))
            .groupBy("node")
            .agg(arg.getField("lbl").alias("lbl"))
        )
    return labels.select("node", F.col("lbl").alias("label"))


def label_propagation_damped_oracle_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
) -> str:
    """DuckDB replay of ``label_propagation_damped``: rounds unrolled,
    the self-vote as a UNION ALL into each round's count."""
    parts = [
        f"e0 AS (SELECT {src_col} AS a, {dst_col} AS b FROM ({edges_sql})"
        f" WHERE {src_col} IS NOT NULL AND {dst_col} IS NOT NULL"
        f" AND {src_col} != {dst_col})",
        "u AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)",
        "c1 AS (SELECT node, lbl, count(*) AS cnt FROM ("
        "SELECT a AS node, b AS lbl FROM u"
        " UNION ALL SELECT DISTINCT a AS node, a AS lbl FROM u"
        ") GROUP BY 1, 2)",
        "l1 AS (SELECT node,"
        " (min({'negcnt': -cnt, 'lbl': lbl})).lbl AS lbl"
        " FROM c1 GROUP BY 1)",
    ]
    for i in range(2, rounds + 1):
        parts.append(
            f"c{i} AS (SELECT node, lbl, count(*) AS cnt FROM ("
            f"SELECT u.a AS node, l.lbl FROM u JOIN l{i - 1} l ON l.node = u.b"
            f" UNION ALL SELECT node, lbl FROM l{i - 1}"
            f") GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i} AS (SELECT node,"
            f" (min({{'negcnt': -cnt, 'lbl': lbl}})).lbl AS lbl"
            f" FROM c{i} GROUP BY 1)"
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT node, CAST(lbl AS BIGINT) AS label FROM l{rounds}
    """
    )


def label_propagation_oracle_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
) -> str:
    """DuckDB replay of ``label_propagation``: rounds unrolled as
    CTEs, the same struct-min argmax (`min({'negcnt': -cnt, 'lbl':
    lbl})` — lexicographic struct comparison in both engines)."""
    parts = [
        f"e0 AS (SELECT {src_col} AS a, {dst_col} AS b FROM ({edges_sql})"
        f" WHERE {src_col} IS NOT NULL AND {dst_col} IS NOT NULL"
        f" AND {src_col} != {dst_col})",
        "u AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)",
        "l1 AS (SELECT a AS node, min(b) AS lbl FROM u GROUP BY 1)",
    ]
    for i in range(2, rounds + 1):
        parts.append(
            f"c{i} AS (SELECT u.a AS node, l.lbl, count(*) AS cnt"
            f" FROM u JOIN l{i - 1} l ON l.node = u.b GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i} AS (SELECT node,"
            f" (min({{'negcnt': -cnt, 'lbl': lbl}})).lbl AS lbl"
            f" FROM c{i} GROUP BY 1)"
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT node, CAST(lbl AS BIGINT) AS label FROM l{rounds}
    """
    )


# Per-round broadcast budget for khop's frontier/reach sides, sized in
# BYTES of estimated hash-relation footprint and divided out to a row
# bound (r12 verdict: a bare row constant hid the driver-memory
# reasoning). A broadcast long-keyed build costs ~8 B of key + ~24 B of
# LongHashedRelation map overhead per row; a 256 MB relation budget is
# a small slice of any production driver/executor heap, two orders of
# magnitude under Spark's 8 GB broadcast ceiling, and the same order
# as common explicit-broadcast practice (autoBroadcastJoinThreshold is
# 10 MB because it's AUTOMATIC and estimate-driven; these counts are
# MEASURED and free under the checkpoint model, so a larger explicit
# budget is safe). 256 MB / 32 B = 8M rows — the bound the r12 sf1 A/B
# measured as the win (PERF.md). Reach is node-scale in the worst
# case, so this is a per-round routing decision, not a cap.
MAX_REACH_BROADCAST_BYTES = 256 * 1024 * 1024
_BROADCAST_KEY_BYTES = 8  # khop keys are node ids: 8-byte longs
_HASH_RELATION_OVERHEAD_BYTES = 24
MAX_REACH_BROADCAST = MAX_REACH_BROADCAST_BYTES // (
    _BROADCAST_KEY_BYTES + _HASH_RELATION_OVERHEAD_BYTES
)


def khop_reach(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    hops: int = 3,
) -> DataFrame:
    """Exact BFS distance from a seed set, capped at ``hops``:
    output (node, dist) for every node whose shortest undirected
    distance to ANY seed is <= hops (the k-hop neighborhood expansion
    behind link-spam blast-radius checks and contamination spread).
    ``seeds`` must have a ``node`` column; seed rows not present in
    the graph still appear at dist 0 (reachability is defined on the
    seed set, not the edge list).

    Frontier-sparse by construction: round k joins only the dist-k-1
    FRONTIER (new nodes) against the stored edge frame, and the anti
    join against the accumulated reach set keeps each node's FIRST
    (minimal) distance — state never exceeds the reached-node set,
    and per-round work follows the frontier's edge volume. The
    symmetrized edge frame is persisted stored state shared by all
    rounds (pagerank's cache rule).

    While the frontier AND the accumulated reach set fit
    ``MAX_REACH_BROADCAST`` (measured counts — free under the
    checkpoint model, each round's frontier is already materialized),
    both per-round joins run BROADCAST: the frontier probe fuses into
    the cached edge frame's map stage and the anti join fuses into the
    distinct's reduce stage, cutting the per-round exchanges from
    three to one (A/B at sf1: 2.3 -> 1.7 s, results identical). Past
    the bound — reach is node-scale in the worst case — each round
    independently degrades to the shuffle_hash form, so a BFS that
    outgrows the budget mid-expansion switches paths mid-loop with
    bit-identical output."""
    if hops < 0:
        raise ValueError(f"khop_reach: hops must be >= 0, got {hops}")

    s = shared(seeds.select(F.col("node")).distinct())
    out = s.select("node", F.lit(0).alias("dist"))
    if hops == 0:
        return out
    # same single-cached-copy sizing as label_propagation
    n_approx = 2 * edges.count()
    parts = max(1, -(-n_approx // 1_500_000))
    u = persist(_undirected(edges, src_col, dst_col).repartition(parts, "a"))
    reach = out
    frontier = s
    frontier_rows = s.count()  # free: checkpoint already ran the scan
    reach_rows = frontier_rows
    for k in range(1, hops + 1):
        small = max(frontier_rows, reach_rows) <= MAX_REACH_BROADCAST
        f = frontier.withColumnsRenamed({"node": "a"})
        probe = u.join(
            F.broadcast(f) if small else f.hint("shuffle_hash"), "a"
        ).select(F.col("b").alias("node")).distinct()
        anti = reach.select("node")
        nxt = probe.join(
            F.broadcast(anti) if small else anti, "node", "left_anti"
        )
        # round k+1's join and the output union both read the frontier
        nxt = shared(nxt)
        frontier = nxt
        frontier_rows = nxt.count()  # free post-checkpoint
        reach_rows += frontier_rows
        reach = reach.unionByName(nxt.select("node", F.lit(k).alias("dist")))
    return reach.select("node", F.col("dist").cast("int").alias("dist"))


def khop_reach_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    hops: int = 3,
) -> str:
    """DuckDB replay of ``khop_reach``: BFS rounds unrolled as CTEs,
    each frontier anti-joined against the union of earlier rounds.
    ``seeds_sql`` must select a ``node`` column."""
    parts = [
        f"e0 AS (SELECT {src_col} AS a, {dst_col} AS b FROM ({edges_sql})"
        f" WHERE {src_col} IS NOT NULL AND {dst_col} IS NOT NULL"
        f" AND {src_col} != {dst_col})",
        "u AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)",
        f"r0 AS (SELECT DISTINCT node FROM ({seeds_sql}))",
    ]
    seen = "SELECT node FROM r0"
    for k in range(1, hops + 1):
        parts.append(
            f"r{k} AS (SELECT DISTINCT u.b AS node"
            f" FROM u JOIN r{k - 1} f ON f.node = u.a"
            f" WHERE NOT EXISTS (SELECT 1 FROM ({seen}) s WHERE s.node = u.b))"
        )
        seen += f" UNION ALL SELECT node FROM r{k}"
    sel = " UNION ALL ".join(
        f"SELECT node, {k} AS dist FROM r{k}" for k in range(hops + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f" SELECT node, CAST(dist AS INT) AS dist FROM ({sel})"
    )
