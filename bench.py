"""Headline benchmark — runs the flagship suite queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Methodology:
- every query is fully executed into a ``noop`` sink (forces complete
  computation of all columns; no driver collect, no count() pruning);
- one untimed warmup execution per query, then the timed run —
  steady-state measurement (JIT/codegen warmup otherwise dominates at
  sub-second query times and measures the JVM, not the plan);
- the JVM itself is warmed once before any query.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_dbt_finance_warehouse_spark.session import (
    default_parallelism,
    get_spark,
)
from duckdb_dbt_finance_warehouse_spark.state import (
    release_persisted,
    reset_stored_state,
)
from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY

HEADLINE = [
    "a1_grouped_sum_q1",          # TPC-H Q1 shape: scan + grouped sums
    "a4_multi_sum_rollup",        # month-grain waterfall rollup
    "a7_spine_zero_fill",         # spine + broadcast join + zero fill
    "j1_month_spine_expansion",   # explode(sequence) spine expansion
    "j3_validity_asof_join",      # SCD2 validity (as-of) join
    "j6_scalar_subquery_filter",  # broadcast scalar bound + agg
    "w2_lag_prev_month",          # window: lag over entity-month
    "w3_prior_history_flag",      # window: cumulative frame excl. current
    "w1_latest_row_dedup",        # latest-row dedup (current-truth view)
    "a5_conditional_count_distinct",  # multi distinct agg (expand)
    "x_dedup_exact",              # content-hash dedup
    "x_dedup_minhash_lsh",        # shingle -> minhash -> band join
    "x_ann_cosine_topk",          # brute-force cosine top-k
    "x_ann_lsh_bucketed",         # multi-table LSH ANN
    "x_sessionize",               # gap sessionization
    "x_text_langid",              # stopword-vote language ID
    "x_asof_nearest",             # union+window as-of join
    "m1_movement_classification", # flagship movement classification
    "m2_waterfall_rollup",        # flagship waterfall mart
    "sql1_join_agg_q3_style",     # SQL-API 3-way join + agg
    "sql2_join_agg_q5_style",     # SQL-API 6-way star join (reordering)
    "sql3_exists_q4_style",       # correlated EXISTS -> semi join
    "sql4_recursive_spine",       # WITH RECURSIVE month spine + zero-fill
    "x_tfidf_top_terms",          # tf-idf term ranking
    "a10_salted_agg",             # skew-proof two-stage aggregation
    "x_ann_ivf_topk",             # IVF inverted-list ANN
    "x_dedup_minhash_portable",   # portable MinHash-LSH (oracle-paired)
    "x_embed_near_dup",           # LSH-bucketed embedding near-dup pairs
    "w6_range_frames",            # RANGE frame + percent_rank/cume_dist
    "x_sample_stratified",        # per-stratum quota sampling
    "x_sample_mixture",           # weighted training-mix sampling
    "x_hll_distinct",             # engine-portable HyperLogLog sketch
    "x_resample_locf",            # gap-fill + LOCF time-series resample
    "x_interval_overlap",         # range join as bucketized equi join
    "x_decontaminate",            # eval-set n-gram overlap scan
    "x_scrub_pii",                # regex PII redaction + audit counts
    "x_heavy_hitters",            # count-min sketch heavy hitters
    "x_text_repetition",          # intra-doc repetition (Gopher-style)
    "x_bloom_semi_join",          # bloom runtime-filter semi-join
    "x_quantile_sketch",          # mergeable fixed-grid quantiles
    "x_salted_join",              # skew-proof salted equi-join
    "x_hll_by_group",             # per-group HLL distinct sketch
    "x_kmeans",                   # deterministic Lloyd k-means fit
    "x_curation_pipeline",        # five-operator curation pass, one plan
    "x_ann_ivf_probe_table",      # IVF serving: cogrouped table probes
    "x_ann_ivf_incremental",      # frozen-model batch append + merged probe
    "x_ann_lsh_probe_table",      # LSH serving: indexed-subset probe panel
    "x_ann_lsh_incremental",      # frozen-plane batch append + merged probe
    "x_ann_pq_topk",              # product-quantized ADC serving
    "x_ann_pq_trained",           # per-subspace Lloyd-trained codebooks
    "x_ann_ivf_pq_topk",          # IVF-pruned ADC over code lists
    "x_ann_ivf_pq_trained",       # trained-codebook IVF-PQ composition
    "x_dedup_incremental",        # batch-vs-index incremental near-dup
    "x_pack_sequences",           # concat-and-chunk sequence packing
    "x_leakage_safe_split",       # cluster-coherent train/val split
    "x_vocab_coverage",           # token-frequency vocab head + coverage
    "x_maintenance_compaction",   # prefix-sum compaction planning
    "x_snapshot_diff",            # table-state audit diff (full-outer)
    "x_paragraph_dedup",          # passage-level exact dedup + rebuild
    "x_simhash_near_dup",         # banded simhash hamming<=3 pairs
    "x_semantic_dedup",           # SemDeDup: kmeans + in-cluster cosine
    "x_sample_temperature",       # alpha=0.5 temperature language mix
    "x_collocations",             # bigram PMI top-k (exact rational)
    "x_quality_classifier",       # hashed linear quality filter
    "x_event_funnel",             # ordered 3-step funnel, one shuffle
    "x_cohort_retention",         # weekly cohort retention matrix
    "x_bm25_search",              # BM25 top-k keyword retrieval
    "x_lm_bigram_score",          # bigram-LM familiarity scoring
    "x_zorder_layout",            # Morton-curve clustering stats
    "x_incremental_rollup",       # stored-state + tail merge rollup
    "x_bpe_train",                # 5-round vocab-sized BPE merges
    "x_bpe_train_batched",        # batched non-interacting merge selection
    "x_bpe_segment",              # BPE encode via vocab-join fold
    "x_chunk_overlap",            # sliding-window RAG chunking
    "x_negative_sampling",        # bucket-join random negatives
    "x_hard_negatives",           # ANN hard-negative mining
    "x_substring_dedup",          # duplicated-span (window hash) detection
    "x_dataset_overlap",          # source-pair MinHash Jaccard matrix
    "x_zipf_fit",                 # integer-exact Zipf conformance
    "x_length_buckets",           # pad-to-bucket batching profile
    "x_random_projection",        # ±1 JL projection, Arrow map stage
    "x_tokenizer_fertility",      # tokens-per-char by predicted lang
    "x_merge_upsert",             # generic MERGE anti-join + union
    "x_event_transitions",        # Markov transition matrix
    "x_inverted_index",           # block-partitioned posting lists
    "x_hll_merge",                # incremental HLL register merge
    "sql5_correlated_agg_q17_style",  # correlated scalar agg decorrelation
    "x_fuzzy_join",               # n-gram set-similarity entity join
    "x_corr_matrix",              # exact-sum Pearson matrix, one pass
    "x_event_anomaly",            # trailing-window z-score flags
    "sql6_lateral_topk",          # correlated LATERAL LIMIT decorrelation
    "a13_cube",                   # full CUBE grouping sets
    "x_pagerank",                 # integer-exact fixed-round PageRank
    "x_embed_quantize",           # int8 quantization audit, no shuffle
    "o4_null_ordering",           # NULLS FIRST/LAST TakeOrdered parity
    "w7_value_kit",               # first/last/nth_value IGNORE NULLS
    "x_edit_distance",            # levenshtein pair verification
    "x_event_hopping_window",     # sliding 60/15-min window aggregate
    "sql7_outer_join_histogram_q13_style",  # Q13 outer-join histogram
    "x_corpus_profile",           # dataset-card per-slice volume/share
    "sql8_correlated_min_q2_style",  # Q2 correlated-min decorrelation
    "x_basket_pairs",             # order-key-bounded co-occurrence join
    "x_triangle_count",           # compact-forward triangle census
    "x_triangle_auto",            # wedge-routed census/DOULION entry point
    "x_triangle_sample",          # DOULION 1/4-edge-sampled estimate
    "x_table_fingerprint",        # order-independent table checksum
    "x_multimodal_frames",        # strided frame sampling, codegen-only
    "x_multimodal_features",      # REAL PNG decode: pixel stats via mapInPandas
    "x_multimodal_audio",         # REAL WAV decode: waveform stats via mapInPandas
    "x_multimodal_resize",        # REAL resize: decode->resample->re-encode
    "x_multimodal_video",         # REAL y4m decode: strided keyframe luma stats
    "x_kfold_split",              # deterministic k-fold CV assignment
    "sql9_global_avg_anti_join_q22_style",  # Q22 scalar-avg + anti join
    "x_auc_quality",              # exact ROC-AUC, two-pass prefix sum
    "x_ks_drift",                 # exact KS drift, cross-multiplied CDFs
    "x_shard_rendezvous",         # rendezvous reshard audit, zero-shuffle
    "x_embed_drift",              # centroid cosine drift, grid-sized exchange
    "x_lexical_drift",            # chi-square term drift, vocab-bounded
    "x_importance_resample",      # DSIR-shaped target-distribution resample
    "x_containment_pairs",        # doc-in-doc overlap-coefficient pairs
    "x_perplexity_buckets",       # CCNet head/middle/tail LM terciles
    "sql10_having_in_q18_style",  # Q18 HAVING-defined IN semi join
    "sql11_top_view_q15_style",   # Q15 view + global-max scalar gate
    "x_pca_power",                # exact top-PC power iteration
    "x_mad_outliers",             # robust modified-z outlier screen
    "x_semantic_decontaminate",   # embedding-space eval-leak flags
    "sql12_double_exists_q21_style",  # Q21 semi+anti double decorrelation
    "x_boilerplate_grams",        # per-source template furniture list
    "x_skew_report",              # join-key skew diagnostic
    "x_ann_recall_audit",         # LSH recall@5 vs exact ground truth
    "x_dedup_precision_audit",    # MinHash pair precision vs exact Jaccard
    "x_hll_error_audit",          # HLL estimate certified vs exact distinct
    "x_ewma_smooth",              # truncated-EWMA metric smoothing
    "x_max_concurrency",          # peak-concurrent-sessions sweep
    "x_group_quantiles",          # per-group p50/p95 from the mergeable grid
    "x_join_size_estimate",       # exact pre-flight join cardinality
    "x_event_paths",              # top-k 3-step funnel discovery
    "x_last_touch_attribution",   # channel-credited conversion revenue
    "x_rfm_segments",             # 27-cell recency/frequency/monetary grid
    "x_ab_conversion",            # 2x2 chi-square A/B readout
    "x_url_canonical",            # crawl-URL canonicalization + dup flag
    "x_label_propagation",        # fixed-round LPA communities
    "x_lpa_damped",               # self-vote-damped LPA (orbit breaker)
    "x_khop_reach",               # 3-hop BFS blast radius
    "sql13_disjunctive_join_q19_style",  # Q19 OR-of-ANDs join filter
    "sql14_promo_ratio_q14_style",       # Q14 conditional-agg ratio
    "a14_grouping_sets",          # explicit GROUPING SETS (OLAP trio)
]


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Co-tenant spikes land entirely on whatever query is running (the r11
# driver rerun recorded x_multimodal_resize at 6.08 s vs 1.10 s for the
# SAME code minutes apart, and x_dedup_precision_audit at 5.4 s vs 1.2),
# so any entry whose warmup shows real work takes a MEDIAN-OF-3 timed
# runs — one spike cannot dominate the committed artifact. Sub-floor
# entries (warmup under MEDIAN3_MIN_SEC) stay single-run: their
# scheduling floor is stable and tripling 100+ of them would double the
# suite's wall clock for nothing. The four Arrow-codec entries are
# always median-3 (the most volatile measurements in the suite, and
# their warmup can land under the threshold on a quiet host).
MEDIAN3_MIN_SEC = 0.8
MEDIAN3_ALWAYS = {
    "x_multimodal_features",
    "x_multimodal_audio",
    "x_multimodal_resize",
    "x_multimodal_video",
}

# Stored-state BUILD entries: their declared payload is (or contains) a
# memoized stored table / frozen trained model, so their headline number
# is a WARM serving read — the documented stored-state credit. The cold
# build cost (first construction with every memo empty) was invisible in
# r13's numbers (r13 VERDICT #1); the ``build`` map below times it
# explicitly — reset_stored_state() empties every state.stored memo,
# then one timed construction+execution pays the full build. The
# headline and micro maps are unchanged and stay comparable across
# rounds; ``build`` is additive telemetry.
BUILD_ENTRIES = [
    "x_dedup_minhash_portable",  # stored pair table (64-hash chain)
    "x_dedup_minhash_lsh",       # stored pair table (32-hash chain)
    "x_lm_bigram_table",         # stored bigram LM
    "x_bpe_train",               # frozen BPE merge table
    "x_bpe_train_batched",       # frozen batched merge table
    "x_kmeans",                  # frozen k-means model fit
    "x_ann_ivf_trained",         # trained coarse model + IVF lists
    "x_ann_pq_trained",          # trained codebooks + PQ codes
    "x_ann_ivf_pq_trained",      # trained IVF-PQ composition
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    # Cold-build telemetry (r13 VERDICT #1): time each stored-state
    # build entry's FIRST construction+execution with every memo empty.
    # Runs before the headline loop so the headline's warm numbers keep
    # their documented stored-state credit exactly as in r12/r13 (there
    # an earlier entry's untimed warmup populated the memo; here the
    # build run does). Single-run: a cold build cannot be repeated
    # without resetting state again, and these numbers are telemetry,
    # not the headline.
    build: dict[str, float] = {}
    for name in BUILD_ENTRIES:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        reset_stored_state()
        t0 = time.time()
        df = spec.fn(spark, sf_dir)
        execute(df)
        build[name] = round(time.time() - t0, 4)
        df = None
        gc.collect()
    reset_stored_state()  # headline entries rebuild their own state

    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        execute(spec.fn(spark, sf_dir))  # warmup: codegen + file listing
        # The timed region includes PLAN CONSTRUCTION (r11 honesty
        # fix): under AQE, localCheckpoint(eager=False) executes its
        # subtree's shuffle stages AT CALL time, so timing only
        # execute() silently excluded every checkpointed prefix (the
        # containment gram pipeline alone was ~3 s of untimed work).
        # Construction is a fresh plan each run — persist()-modeled
        # STORED state still gets its documented warmup cache credit,
        # localCheckpoint state correctly does not.
        #
        # Median-of-3 routing keys off the FIRST TIMED SAMPLE (r12
        # ADVICE: the warmup includes one-time codegen + file-listing
        # cost, so steady-state sub-floor entries cleared the old
        # warmup-based gate and tripled for nothing). The first sample
        # is always taken; it either stands alone or becomes sample 1
        # of the median-3.
        t0 = time.time()
        df = spec.fn(spark, sf_dir)
        execute(df)
        samples = [time.time() - t0]
        if samples[0] >= MEDIAN3_MIN_SEC or name in MEDIAN3_ALWAYS:
            for _ in range(2):
                t0 = time.time()
                df = spec.fn(spark, sf_dir)
                execute(df)
                samples.append(time.time() - t0)
        timings[name] = round(sorted(samples)[len(samples) // 2], 4)
        release_persisted()  # drop minhash signature caches between queries
        # untimed housekeeping: drop py4j refs so ContextCleaner frees
        # accumulated localCheckpoint blocks between queries (the r4
        # collateral-GC lesson, now at suite scale)
        df = None
        gc.collect()

    # Micro sweep (r12 verdict #8): registry entries outside HEADLINE
    # are correctness-covered but had no perf telemetry — a regression
    # there was invisible. One untimed warmup + one timed run each
    # (they are sub-0.5 s scalar/projection shapes; median-3 would
    # double the suite's wall clock for noise protection they don't
    # need), recorded in a SEPARATE "micro" map so the headline total
    # stays comparable across rounds.
    micro: dict[str, float] = {}
    headline_set = set(HEADLINE)
    for name, spec in REGISTRY.items():
        if name in headline_set:
            continue
        execute(spec.fn(spark, sf_dir))  # warmup
        t0 = time.time()
        df = spec.fn(spark, sf_dir)
        execute(df)
        micro[name] = round(time.time() - t0, 4)
        release_persisted()
        df = None
        gc.collect()

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus = default_parallelism()
    # The per-query map for a 170-entry suite overflows line captures
    # (BENCH_r05 landed with parsed:null), so the COMPACT headline gets
    # its own line BOTH before and after the map — a consumer keeping
    # either the head or the tail of stdout still sees one short,
    # parseable JSON line; the middle line carries the full per-query
    # map for analysis. All three report the same total.
    compact = json.dumps(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "n": len(timings),
            "median3_min_sec": MEDIAN3_MIN_SEC,
        }
    )
    full = json.dumps(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "micro": micro,
            "micro_total": round(sum(micro.values()), 4),
            "build": build,
            "build_total": round(sum(build.values()), 4),
            "cpus": cpus,
            "sf": sf_val,
            "n": len(timings),
        }
    )
    print(compact)
    print(full)
    print(compact)
    # The driver's BENCH_r{N}.json artifact keeps only ~2000 chars of
    # stdout tail — a 135-query map never survives it.  Persist the full
    # map as a sidecar next to this script so every per-query timing is
    # in-repo; tools/bench_ratio.py falls back to it (matched by exact
    # total) when handed the driver's tail wrapper.
    # Per-core-count sidecar (r13 VERDICT #2): the driver's 8-core
    # scaling run used to OVERWRITE the 32-core run's per-query map
    # (one shared path), which emptied PERF's per-query and scaling
    # blocks for two rounds. The suffixed file is always written; the
    # legacy unsuffixed path is kept for the default 32-core run only
    # (tools/bench_ratio.py reads both, matched by exact total).
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, f"BENCH_full_sf{sf}_c{cpus}.json"), "w") as f:
        f.write(full + "\n")
    if cpus == 32:
        with open(os.path.join(here, f"BENCH_full_sf{sf}.json"), "w") as f:
            f.write(full + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
