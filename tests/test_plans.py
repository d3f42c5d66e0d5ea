"""Physical-plan regression guards: the scale-critical plan properties
(pushdown, broadcast joins, window top-k pushdown, no Python in the hot
path) must survive refactors. Checking plans is cheap — no execution."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from duckdb_dbt_finance_warehouse_spark.models import build_pipeline
from duckdb_dbt_finance_warehouse_spark.plans.registry import Context
from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse
from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY

from .test_pipeline import VARS, ingest_batch

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return explained(REGISTRY[name].fn(spark, SF))


def explained(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_triangle_census_uses_hash_joins(spark):
    """The census's wedge self-join must stay ShuffledHashJoin (the
    shuffle_hash hint — sort-merge would sort the edge stream twice)
    and the CLOSING join must be a BroadcastHashJoin on the packed
    ``u << 32 | w`` long key: wedges outnumber edges by the average
    out-degree (1.48 B vs 12 M at sf1), so the wedge stream must probe
    a broadcast map fused in its generating stage, never hit an
    exchange (measured 28 -> 12 s steady at sf1, and it removes the
    12 GB shuffle whose spill made census timings flap 19-54 s)."""
    for name in ("x_triangle_count", "x_triangle_sample"):
        p = plan_of(spark, name)
        assert p.count("ShuffledHashJoin") >= 1, name
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name


def test_predicate_pushdown_reaches_scan(spark):
    p = plan_of(spark, "p10_predicate_filter")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "GreaterThanOrEqual(l_quantity,10.0)" in m.group(1)
    assert "EqualTo(l_returnflag,N)" in m.group(1)


def test_column_pruning_reaches_scan(spark):
    p = plan_of(spark, "a1_grouped_sum_q1")
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    assert m and "l_orderkey" not in m.group(1)  # unused columns pruned
    assert "l_quantity" in m.group(1)


@pytest.mark.parametrize(
    "name",
    ["j2_left_equi_zero_fill", "j3_validity_asof_join", "a7_spine_zero_fill",
     "j6_scalar_subquery_filter"],
)
def test_small_sides_broadcast(spark, name):
    p = plan_of(spark, name)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


@pytest.mark.parametrize(
    "name", ["p9_topk_per_group", "w1_latest_row_dedup", "x_sample_stratified"]
)
def test_window_topk_pushdown(spark, name):
    assert "WindowGroupLimit" in plan_of(spark, name)


@pytest.mark.parametrize(
    # both entries' probe panels are INDEXED SUBSETS (r13): they pay
    # ONE (tbl, bucket) exchange with the flagged single-frame kernel
    # served from the stored index — a cogroup here means a probe side
    # started riding its own exchange + Arrow re-hash stage again
    "name,kernel_node",
    [
        ("x_ann_lsh_probe_table", "FlatMapGroupsInPandas"),
        ("x_ann_lsh_incremental", "FlatMapGroupsInPandas"),
    ],
)
def test_lsh_topk_dense_rank_group_limit(spark, name, kernel_node):
    """The LSH top-k folds the multi-table collision dedup into its
    rank window (dense_rank <= k over raw pairs == row_number <= k over
    deduped pairs): the group-limit pushdown must fire for dense_rank,
    and the pair-sized distinct exchange the old distinct-then-rank
    form paid must NOT reappear upstream of the window (the only
    aggregate-style dedup left is the output-sized one after the rank
    filter). The incremental entry must additionally keep the
    single-exchange flagged kernel — a cogroup there means the probe
    panel started riding its own exchange again."""
    p = plan_of(spark, name)
    assert "WindowGroupLimit" in p
    assert kernel_node in p, name
    if kernel_node == "FlatMapGroupsInPandas":
        assert "FlatMapCoGroupsInPandas" not in p, name
    # window input comes straight from the scoring kernel: no
    # HashAggregate between the kernel and the rank window
    kernel_idx = p.index(kernel_node)
    window_idx = p.index("WindowGroupLimit")
    between = p[min(kernel_idx, window_idx):max(kernel_idx, window_idx)]
    assert "HashAggregate" not in between, name


def test_order_limit_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "o1_ordered_topn")


@pytest.mark.parametrize(
    "name",
    ["a1_grouped_sum_q1", "w2_lag_prev_month", "x_dedup_exact", "x_sessionize",
     "x_text_langid"],
)
def test_no_python_in_hot_path(spark, name):
    p = plan_of(spark, name)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_cosine_topk_is_arrow_kernel_with_group_limit(spark):
    """x_ann_cosine_topk (r12 shape): the exact scorer is ONE MapInPandas
    stage (broadcast quantized query matrix + numpy over corpus batches,
    local top-k per batch) feeding a dense_rank WindowGroupLimit — no
    cross join (the pre-r12 BNLJ shape must not reappear) and no
    row-at-a-time Python."""
    p = plan_of(spark, "x_ann_cosine_topk")
    assert "MapInPandas" in p
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# Cross joins where one side is a broadcast scalar/tiny aggregate (HWM
# bound, scalar subquery, percentile bounds, doc count, probe queries,
# centroid table) — constant-size build sides, safe at any corpus scale.
BNLJ_ALLOWED = {
    "x_bloom_semi_join",  # 1-row stored bitmap row crossed into the probe scan
    "p8_hwm_filter",
    "j6_scalar_subquery_filter",
    "x_ann_ivf_topk",
    "x_tfidf_top_terms",
    "x_winsorize",
    "x_vocab_coverage",  # 1-row total-occurrences bound
    "x_sample_temperature",  # 1-row quantized-weight total bound
    "x_collocations",  # 1-row token-count total bound
    "x_bm25_search",  # 1-row (n_docs, sum_dl) corpus stats bound
    "x_lm_bigram_score",  # 1-row vocabulary-size bound
    "x_zorder_layout",  # 1-row global min/max range bound
    "x_bpe_train",  # 1-row argmax winning pair per merge round
    "x_hard_negatives",  # 10-row broadcast anchor set (probe-query bound)
    "x_pagerank",  # 1-row node-count bound crossed into every rank row
    "x_corpus_profile",  # 1-row corpus-total bound crossed into slice rows
    "x_triangle_count",  # three 1-row census scalars crossed into one row
    "x_triangle_auto",  # census route: the same three 1-row census scalars
    "x_triangle_sample",  # two 1-row census scalars crossed into one row
    "x_ks_drift",  # 1-row slice-totals bound crossed into the value grid
    "x_lexical_drift",  # 1-row token-totals bound crossed into the vocab grid
    "x_importance_resample",  # 1-row (ns, nt) totals crossed into the bucket grid
    "x_perplexity_buckets",  # 1-row vocab size + 1-row corpus total, both into bounded grids
    "x_lm_bigram_table",  # 1-row vocab-size bound crossed into the gram grid (LM build)
    "x_mad_outliers",  # 1-row median + 1-row MAD bounds crossed into the scan
    "x_skew_report",  # 1-row count-table totals crossed into the key grid
    "x_ann_recall_audit",  # fixed 16-probe panel broadcast over the corpus (exact side)
    "x_hll_error_audit",  # 1-row exact-distinct bound crossed into the 1-row estimate
    "x_join_size_estimate",  # three 1-row bounds (worst key, side counts) crossed into one row
    "x_event_paths",  # 1-row complete-path total crossed into the path grid
    "x_rfm_segments",  # three 1-row tercile totals crossed into metric grids
    "x_ab_conversion",  # 1-row variant-bounds cross into the per-entity frame
}


def test_no_all_pairs_joins_anywhere(spark):
    """No suite plan may contain an O(N²) join shape (BNLJ / cartesian)
    outside the documented tiny-broadcast allowlist — the 100× scale-up
    guard. In particular x_embed_near_dup must stay LSH-bucketed."""
    offenders = []
    for name in REGISTRY:
        p = plan_of(spark, name)
        if "BroadcastNestedLoopJoin" in p or "CartesianProduct" in p:
            if name not in BNLJ_ALLOWED:
                offenders.append(name)
    assert offenders == []


@pytest.mark.parametrize(
    # ivf probe table pairs two frames -> cogroup; the LSH probe table's
    # panel is an INDEXED SUBSET (r13) -> flagged single-frame kernel
    "name,kernel_node",
    [
        ("x_ann_ivf_probe_table", "FlatMapCoGroupsInPandas"),
        ("x_ann_lsh_probe_table", "FlatMapGroupsInPandas"),
    ],
)
def test_probe_table_ann_is_cogrouped_not_crossed(spark, name, kernel_node):
    """The table-probe ANN serving paths must pair probes and candidates
    by co-shuffled key (a grouped Arrow kernel on centroid_id /
    (tbl, bucket)) — never a cross product, never a per-pair join."""
    p = plan_of(spark, name)
    assert kernel_node in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_sql1_broadcasts_orders_not_lineitem(spark):
    """sql1's build side must be the dimension-shaped BUILDING-orders
    subquery, never lineitem: left to size estimates Catalyst broadcasts
    the filtered lineitem (fits the threshold at small sf, flips to a
    two-sided shuffle join at sf1 — the round-3 4.9x scaler). Locked
    shape: lineitem streams (its columns never enter a BroadcastExchange)
    and the only exchange is the final agg's single hashpartitioning."""
    p = plan_of(spark, "sql1_join_agg_q3_style")
    assert "SortMergeJoin" not in p
    for be_input in re.findall(
        r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", p
    ):
        assert "l_extendedprice" not in be_input, p
    assert len(re.findall(r"hashpartitioning", p)) == 1


def test_sql2_streams_lineitem_never_broadcasts_it(spark):
    """sql2's probe stream must be LINEITEM: the dim-first FROM order
    made Catalyst broadcast the pruned 6M-row fact at sf1 (a
    single-threaded driver hash build — the r10 second-wave fix).
    Locked shape: every build side is a filtered/dimension relation
    (no lineitem money column ever enters a BroadcastExchange), all
    five joins broadcast, no sort-merge."""
    p = plan_of(spark, "sql2_join_agg_q5_style")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 5
    for be_input in re.findall(
        r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", p
    ):
        assert "l_extendedprice" not in be_input, p


def test_sql12_subqueries_shuffle_hash_never_broadcast_lineitem(spark):
    """sql12's l1 stream exchanges once on l_orderkey and the orders
    join plus both decorrelated subquery joins reuse it as
    ShuffledHashJoins (the 6M-row lineitem re-reads and the ~half-table
    status-'F' orders slice are NOT bounded by construction — forced
    broadcasts there are the mis-broadcast class); only the
    dimension-sized supplier broadcasts."""
    p = plan_of(spark, "sql12_double_exists_q21_style")
    assert "SortMergeJoin" not in p
    assert p.count("ShuffledHashJoin") >= 3
    for be_input in re.findall(
        r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", p
    ):
        assert "l_shipdate" not in be_input, p
        assert "o_orderdate" not in be_input, p


def test_sql3_exists_shuffle_hash_never_broadcast_lineitem(spark):
    """sql3's EXISTS side is 25% of lineitem's orderkeys — fact-sized,
    NOT bounded by construction: without the in-subquery SHUFFLE_HASH
    hint AQE broadcast 1.5M fact keys at sf1 (single-threaded driver
    hash build; the r11 A/B measured the hinted plan 2.3x faster on
    top of removing the driver-OOM shape). Locked: the semi join is a
    ShuffledHashJoin and NO lineitem column enters a
    BroadcastExchange."""
    p = plan_of(spark, "sql3_exists_q4_style")
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" in p
    for be_input in re.findall(
        r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", p
    ):
        assert "l_orderkey" not in be_input, p


def test_partial_aggregation_before_shuffle(spark):
    df = REGISTRY["a1_grouped_sum_q1"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    p = buf.getvalue()
    assert "partial_sum" in p  # map-side combine


def test_quantile_sketch_prunes_to_one_column(spark):
    """The sketch scan must read ONLY the sketched column."""
    p = plan_of(spark, "x_quantile_sketch")
    assert "ReadSchema: struct<o_totalprice:double>" in p


def test_bloom_filter_stays_in_scan_stage(spark):
    """The Bloom membership test is a filter over the probe scan — no
    joins or exchanges may appear on the probe side before the grouped
    aggregation, and the scan reads only the probed + grouped columns."""
    p = plan_of(spark, "x_bloom_semi_join")
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz>" in p


def test_langid_single_aggregation_no_join_no_window(spark):
    """language_id is one doc-keyed aggregation + a rejoin to docs — the
    stopword table must be inlined (no broadcast join for votes, no
    ranking window)."""
    p = plan_of(spark, "x_text_langid")
    assert "Window" not in p


def test_repetition_single_exchange(spark):
    """repetition_stats: one pre-explode repartition serves both
    aggregations — exactly one shuffle exchange in the plan."""
    p = plan_of(spark, "x_text_repetition")
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange", p)) == 1


def test_pack_sequences_window_is_stream_partitioned(spark):
    """The packing prefix sum must be partitioned on the stream key —
    an empty-partition (global) window would serialize the whole corpus
    through one task. Token counting and slicing stay JVM-side."""
    p = plan_of(spark, "x_pack_sequences")
    assert "Window" in p
    assert re.search(r"Window.*\n(?:.*\n)*?.*partitionBy.*stream", p) or "stream#" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q5_star_join_broadcasts_all_dims(spark):
    """The 6-way star join must broadcast every dimension-sized side
    (supplier, nation, region + the customer-side build Catalyst
    picks) — at least 3 BroadcastHashJoins, no SortMergeJoin at test
    SF, no nested loop."""
    p = plan_of(spark, "sql2_join_agg_q5_style")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_exists_subquery_decorrelates_to_semi_join(spark):
    """Correlated EXISTS must plan as a join with LeftSemi semantics
    (decorrelated), with the returnflag filter reaching the lineitem
    scan — never per-row subquery execution."""
    p = plan_of(spark, "sql3_exists_q4_style")
    assert "LeftSemi" in p, p
    assert "EqualTo(l_returnflag,R)" in p, p


def test_compaction_plan_aggregates_before_window(spark):
    """compaction_plan's window runs over per-month summaries: the plan
    must show a partial aggregation on the fact scan feeding the window
    (never a window over raw fact rows), reading only the date column."""
    p = plan_of(spark, "x_maintenance_compaction")
    assert "ReadSchema: struct<o_orderdate:timestamp_ntz>" in p
    agg_pos = p.find("HashAggregate")
    win_pos = p.find("Window")
    assert agg_pos != -1 and win_pos != -1


def test_compaction_window_is_bucket_partitioned(spark):
    """The prefix sum must be the two-pass form: every Window node
    carries a partition spec (the range bucket) — a global
    ``Window.orderBy`` would move all partition summaries through one
    task (10^5-10^6 rows for a real 100 TB table) and spam
    'WindowExec: No Partition Defined'."""
    p = plan_of(spark, "x_maintenance_compaction")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, "expected at least one window in the compaction plan"
    for spec in specs:
        # partitionless spec starts directly with the order expression;
        # partitioned spec leads with the _bucket partition column
        assert "_bucket" in spec.split(",")[0]


def test_bpe_segment_broadcasts_vocab_not_corpus(spark):
    # the (word -> token) table is vocab-volume and must be the
    # broadcast BUILD side; left to size estimates Catalyst broadcast
    # the exploded CORPUS at sf1 (15.7 s / driver-OOM shape)
    p = plan_of(spark, "x_bpe_segment")
    assert "BroadcastHashJoin Inner BuildRight" in p
    assert "BroadcastHashJoin Inner BuildLeft" not in p


def test_random_projection_is_single_map_stage(spark):
    # pure projection: one Arrow stage, zero shuffles
    p = plan_of(spark, "x_random_projection")
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p or "MapInPandas" in p


def test_merge_upsert_is_single_key_shuffle_no_window(spark):
    p = plan_of(spark, "x_merge_upsert")
    assert "Window" not in p and "SortMergeJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_substring_dedup_is_joinless_keyed_window(spark):
    # per-hash doc counts come from count() OVER (PARTITION BY wh) —
    # no join (a count-table join would broadcast an unbounded side or
    # pay an extra wh shuffle), window keyed (never global), and the
    # only wide exchanges key on the hash / the doc id
    df = REGISTRY["x_substring_dedup"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p
    assert "Window [" in p or "Window(" in p
    assert "hashpartitioning(wh" in p and "hashpartitioning(doc_id" in p


def test_q17_correlated_subquery_decorrelates(spark):
    # the scalar correlated agg must become a grouped aggregate + join
    # (never a per-row subquery); no BNLJ/cartesian anywhere
    p = plan_of(spark, "sql5_correlated_agg_q17_style")
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_event_transitions_single_event_shuffle(spark):
    # one user-keyed exchange feeds the lead window; the matrix agg and
    # row normalization run at matrix volume
    df = REGISTRY["x_event_transitions"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("hashpartitioning(user_id") == 1
    assert "Join" not in p


def test_bigram_lm_broadcasts_qtable_not_corpus(spark):
    # the per-gram log-prob table (vocab volume) must be the broadcast
    # build side; the stat-less checkpointed corpus gram frame must not
    # enter a BroadcastExchange (AQE picked exactly that at sf1)
    df = REGISTRY["x_lm_bigram_score"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    nexts = re.findall(r"BroadcastExchange [^\n]*\n([^\n]*)", p)
    assert nexts and all("ExistingRDD" not in n for n in nexts), p


def test_lateral_limit_decorrelates_to_window_group_limit(spark):
    # the correlated LATERAL ... ORDER BY ... LIMIT must plan as a
    # per-key ranked window with the group-limit pushdown + ONE join —
    # never a per-outer-row subquery loop
    df = REGISTRY["sql6_lateral_topk"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert p.count("Join") == 1


@pytest.mark.parametrize("name", ["x_auc_quality", "x_ks_drift"])
def test_ordered_stats_windows_are_bucket_partitioned(spark, name):
    """AUC / KS prefix sums must be the two-pass form: every Window in
    the plan carries the range-bucket partition spec — a global ordered
    window would funnel the whole distinct-score/value grid (unbounded
    in corpus terms only via the quantization grid, but 10^6+ rows for
    fine grids) through one task."""
    p = plan_of(spark, name)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, f"expected a window in {name}"
    for spec in specs:
        assert "_bucket" in spec.split(",")[0], (name, spec)


def test_shard_rendezvous_single_scan_no_joins(spark):
    """Rendezvous assignment is a pure per-row expression: the audit
    plan is one scan + one tiny shard-keyed aggregate — no joins, no
    windows, exactly one exchange (the ≤9-group final agg), and the
    scan reads only the key column."""
    p = plan_of(spark, "x_shard_rendezvous")
    assert "Join" not in p and "Window" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "ReadSchema: struct<doc_id:bigint>" in p


def test_embed_drift_collapses_before_exchange(spark):
    """centroid_drift's d× posexplode must collapse to the (2·d)-row
    grid inside the map stage: partial aggregation (partial_sum) below
    the grid exchange, and no Python anywhere."""
    df = REGISTRY["x_embed_drift"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    p = buf.getvalue()
    assert "partial_sum" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    fmt = plan_of(spark, "x_embed_drift")
    assert "Generate" in fmt  # native posexplode, not a UDF


def test_lexical_drift_topk_is_take_ordered(spark):
    """The global top-k must be distributed TakeOrdered, never a global
    sort; totals ride a 1-row broadcast."""
    p = plan_of(spark, "x_lexical_drift")
    assert "TakeOrderedAndProject" in p


def test_importance_resample_broadcasts_weight_table(spark):
    """The B-row weight table must be the broadcast build side of the
    scoring join — the corpus token stream streams through it; a
    sort-merge join would shuffle the whole exploded stream on the
    bucket key."""
    p = plan_of(spark, "x_importance_resample")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_containment_never_broadcasts_corpus_grams(spark):
    """Candidate pairs must come from the gram-keyed groupBy (no gram
    self-join at all), and the verification join must keep its
    shuffle_hash pin: the localCheckpointed gram frame's size estimate
    undershoots the 10-50x explode, and the unpinned plan was observed
    broadcasting the CORPUS gram table at sf1 (mid-scale driver-OOM
    shape)."""
    p = plan_of(spark, "x_containment_pairs")
    assert "ShuffledHashJoin" in p  # pinned verification join
    assert "SortMergeJoin" not in p


def test_gram_verify_joins_never_broadcast_corpus_grams(spark):
    """fuzzy join and n-gram Jaccard verification must keep their
    shuffle_hash pins: the corpus gram frames sit under localCheckpoints
    whose size estimates undershoot the explode, and the unpinned sf1
    plans were observed broadcasting (corpus_id, gram) / (id_b, gram) —
    the mid-scale driver-OOM shape."""
    for name in ("x_fuzzy_join", "x_ngram_jaccard"):
        p = plan_of(spark, name)
        assert "ShuffledHashJoin" in p, name
        for be in re.findall(
            r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", p
        ):
            assert not ("corpus_id" in be and "gram" in be), (name, be)
            assert not ("id_b" in be and "gram" in be), (name, be)


def test_bounded_probe_lsh_prunes_index_to_probed_buckets(spark):
    """When the probe panel is bounded by construction (the
    recall-audit panel), the index bucket stream must be pre-filtered
    by a broadcast LEFT SEMI on the probed (tbl, bucket) keys BEFORE
    the bucket exchange — rows in never-probed buckets are dropped
    map-side instead of riding a corpus-sized shuffle. The table-sized
    panels (x_ann_lsh_probe_table's serving panel,
    x_semantic_decontaminate's standing eval panel) must NOT pay the
    semi join — their probes cover the key space — and take the flagged
    single-exchange path: exactly one FlatMapGroupsInPandas over the
    index stream, no cogroup, no semi join, no second Arrow hash
    stage."""
    p = plan_of(spark, "x_ann_recall_audit")
    assert "BroadcastHashJoin LeftSemi" in p
    assert "Left keys [2]: [tbl" in p
    for name in ("x_ann_lsh_probe_table", "x_semantic_decontaminate"):
        p = plan_of(spark, name)
        # formatted explain names each node in the tree AND the detail
        # section — 2 mentions == exactly one node
        assert p.count("FlatMapGroupsInPandas") == 2, name
        assert "FlatMapCoGroupsInPandas" not in p and "LeftSemi" not in p, name
        assert p.count("MapInPandas (") == 1, name  # one bucket pass, no re-hash


def test_a8_percentiles_single_exchange_no_object_agg(spark):
    """The r14 exact-percentile rewrite: no percentile()
    TypedImperativeAggregate (ObjectHashAggregate) anywhere, and the
    raw rows reach the per-flag window through exactly ONE exchange —
    the rejected value-counts form paid a second exchange + two
    HashAggregates for a ~99%-distinct key (see OPTIMIZATION_r14.md)."""
    p = plan_of(spark, "a8_exact_percentiles")
    assert "ObjectHashAggregate" not in p
    assert "percentile" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A Context over a warehouse fully built from the b1 fixture batch."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    ingest_batch(wh, str(tmp_path_factory.mktemp("csv")), "b1")
    pipe = build_pipeline()
    pipe.run(spark, wh, variables=VARS, full_refresh=True)
    return Context(spark, wh, pipe, VARS)


def test_account_month_chain_single_scan_and_rollup_without_expand(built):
    """fct_account_month runs mrr.account_month_chain: its spine bounds,
    monthly sums and zero-fill come out of one read of
    fct_subscription_month (a bounds groupBy plus a join back would read
    it twice). The mart's account counts are row counts over the unique
    (account, month) grain, so its rollup has no Expand and only the one
    grouping exchange."""
    fam = explained(built.pipeline.models["fct_account_month"].fn(built))
    # one Location line per Scan parquet node in the formatted plan
    assert len(re.findall(r"Location: .*/fct_subscription_month\]", fam)) == 1, fam
    mart = explained(built.pipeline.models["mart_mrr_waterfall_month"].fn(built))
    assert "Expand" not in mart, mart
    assert len(re.findall(r"\(\d+\) Exchange", mart)) == 1, mart
