"""Driver-facing query suite.

Every operator from SURVEY.md §2 (plus the §7.6 extension surface) is
registered here as a named query: a ``(spark, sf_dir) -> DataFrame``
callable and, where SQL-expressible, an equivalent DuckDB oracle SQL
string. ``__spark_entry__.py`` exposes the registry to the driver.
"""

from .registry import REGISTRY, QuerySpec, query

from . import core_relational  # noqa: E402,F401  (registers queries)
from . import extensions  # noqa: E402,F401

# The driver's correctness gate caps at the FIRST 50 registry entries in
# iteration order, so ordering is a verification-coverage decision, not
# cosmetics.  ROUND-15 ROTATION, second cut (CLAUDE.md rule: never-checked
# first — there are none — then this round's touched entries):
#   slots 1-12  — DRAINED_THIS_ROUND: the 12 text-contract entries the
#                 first cut deferred.
#   slots 13-30 — every entry whose operator code the probe-family /
#                 triangle-census cleanup changes: the LSH serving
#                 entries, every entry behind the driver-side probe
#                 panel's error text, the IVF-PQ composition, the three
#                 triangle entries, pagerank's rank dictionary and the
#                 snapshot diff (x_inverted_index is in slots 1-12).
#   slots 31-50 — the first cut's window in its order (x_paragraph_dedup,
#                 then entries whose construction calls
#                 ``state.shared``); the rest of it, touched earlier
#                 this round, is on DEFERRED_NEXT_ROUND.
DRAINED_THIS_ROUND: list[str] = [
    "x_boilerplate_grams",
    "x_text_repetition",
    "x_curation_pipeline",
    "x_pack_sequences",
    "x_pack_efficiency",
    "x_chunk_overlap",
    "x_collocations",
    "x_length_buckets",
    "x_tokenizer_fertility",
    "x_inverted_index",
    "x_auc_quality",
    "x_lexical_drift",
]

DRIVER_PRIORITY: list[str] = [
    *DRAINED_THIS_ROUND,
    # --- operator code changed by the probe-family / census cleanup ---
    "x_ann_lsh_probe_table",
    "x_ann_lsh_incremental",
    "x_ann_recall_audit",
    "x_semantic_decontaminate",
    "x_embed_near_dup",
    "x_ann_cosine_topk",
    "x_ann_ivf_topk",
    "x_ann_ivf_trained",
    "x_ann_lsh_bucketed",
    "x_ann_pq_topk",
    "x_ann_pq_trained",
    "x_ann_ivf_pq_topk",
    "x_ann_ivf_pq_trained",
    "x_triangle_count",
    "x_triangle_sample",
    "x_triangle_auto",
    "x_pagerank",
    "x_snapshot_diff",
    # --- the first cut's window, in order ---
    "x_paragraph_dedup",
    "x_containment_pairs",
    "x_bpe_train",
    "x_bpe_train_batched",
    "x_fuzzy_join",
    "x_ngram_jaccard",
    "x_dedup_clusters",
    "x_dedup_canonical",
    "x_dedup_precision_audit",
    "x_leakage_safe_split",
    "x_dataset_overlap",
    "x_tfidf_top_terms",
    "x_cohort_retention",
    "x_heavy_hitters",
    "x_bpe_segment",
    "x_bm25_search",
    "x_zipf_fit",
    "x_rfm_segments",
    "x_hll_merge",
    "x_importance_resample",
]

# Entries touched this round that do NOT fit the 50-entry window — the
# rotation policy's overflow rule made executable (r13 VERDICT #9):
# tests assert TOUCHED_THIS_ROUND ∖ window ⊆ DEFERRED_NEXT_ROUND, and
# tests/test_oracle_parity_deferred.py checks each against its oracle
# (and keeps checking DRAINED_THIS_ROUND until the driver has).
DEFERRED_NEXT_ROUND: list[str] = [
    # construction calls state.shared
    "x_lpa_damped",
    "x_khop_reach",
    # plans changed since r14: mergeable aggregates, then text contract
    "x_hll_distinct",
    "x_hll_by_group",
    "x_hll_error_audit",
    "x_quantile_sketch",
    "x_group_quantiles",
    "x_maintenance_compaction",
    "x_dedup_simhash",
    "x_simhash_near_dup",
    "x_dedup_minhash_portable",
    "x_dedup_minhash_lsh",
    "x_dedup_incremental",
    "x_quality_classifier",
    "x_substring_dedup",
    "x_dedup_exact",
    "x_text_langid",
    "x_text_quality",
    "x_token_count",
    "x_vocab_coverage",
    "x_fingerprint",
    "x_decontaminate",
    "x_lm_bigram_score",
    "x_lm_bigram_table",
    "x_perplexity_buckets",
]

# Every queries() entry whose operator code this change touches — kept
# in suite code (not prose) so the window policy is testable.
TOUCHED_THIS_ROUND: list[str] = [
    # LSH serving: the indexed-subset predicate is the only probe form
    "x_ann_lsh_probe_table",
    "x_ann_lsh_incremental",
    "x_ann_recall_audit",
    "x_semantic_decontaminate",
    # lsh_build_buckets lost its out_id parameter
    "x_embed_near_dup",
    # the driver-side probe panel's over-cap error names real operators
    "x_ann_cosine_topk",
    "x_ann_ivf_topk",
    "x_ann_ivf_trained",
    "x_ann_lsh_bucketed",
    "x_ann_pq_topk",
    "x_ann_pq_trained",
    # ivf_pq_probe_lists_topk takes its id type from the lists frame
    "x_ann_ivf_pq_topk",
    "x_ann_ivf_pq_trained",
    # triangle census: one edge-frame input, no switches
    "x_triangle_count",
    "x_triangle_sample",
    "x_triangle_auto",
    # _dense_ids lost its unused parameters
    "x_pagerank",
    # inverted_index returns array postings; the entry joins them
    "x_inverted_index",
    # snapshot_diff lost hash_col
    "x_snapshot_diff",
]


def _apply_driver_order() -> None:
    ordered = {n: REGISTRY[n] for n in DRIVER_PRIORITY if n in REGISTRY}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_driver_order()

__all__ = [
    "REGISTRY",
    "QuerySpec",
    "query",
    "DRIVER_PRIORITY",
    "DRAINED_THIS_ROUND",
    "DEFERRED_NEXT_ROUND",
    "TOUCHED_THIS_ROUND",
]
