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
# cosmetics.  ROUND-15 ROTATION (CLAUDE.md rule: never-checked first,
# then this round's touched entries, then the stalest greens):
#   slots 1-2   — x_paragraph_dedup, whose output changed (a NULL text
#                 now gives one empty passage, as an empty text does),
#                 and the r14 deferred drain, x_ann_lsh_probe_table.
#   slots 3-27  — every entry whose construction calls ``state.shared``
#                 (the one owner of intra-query checkpoints), found by
#                 tracing each entry's construction at sf0.01.
#   slots 28-50 — entries whose physical plans changed since r14 and
#                 that no driver gate has seen since: the mergeable
#                 aggregate fixes (HLL estimate, empty histograms,
#                 compaction's renamed columns) and the text contract
#                 (normalization class, word-window helpers). The other
#                 12 are on DEFERRED_NEXT_ROUND.
DRIVER_PRIORITY: list[str] = [
    # --- changed output + r14 deferred drain ---
    "x_paragraph_dedup",
    "x_ann_lsh_probe_table",
    # --- construction calls state.shared ---
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
    "x_triangle_count",
    "x_triangle_auto",
    "x_triangle_sample",
    "x_ann_recall_audit",
    "x_tfidf_top_terms",
    "x_cohort_retention",
    "x_heavy_hitters",
    "x_bpe_segment",
    "x_bm25_search",
    "x_zipf_fit",
    "x_rfm_segments",
    "x_hll_merge",
    "x_importance_resample",
    "x_lpa_damped",
    "x_khop_reach",
    # --- plans changed since r14 (aggregates, then text contract) ---
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

# Entries whose plans changed since r14 that do NOT fit the 50-entry
# window this round — the rotation policy's overflow rule made
# executable (r13 VERDICT #9): tests assert
# TOUCHED_THIS_ROUND ∖ window ⊆ DEFERRED_NEXT_ROUND, and
# tests/test_oracle_parity_deferred.py checks each against its oracle.
DEFERRED_NEXT_ROUND: list[str] = [
    # text contract: normalization class and word-window helpers only
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

# Every queries() entry whose operator code this round's diff touches —
# kept in suite code (not prose) so the window policy is testable.
TOUCHED_THIS_ROUND: list[str] = [
    # passage windows moved onto dedup.word_grams (operators/dedup.py)
    "x_paragraph_dedup",
    # construction calls state.shared (each call was a per-site checkpoint)
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
    "x_triangle_count",
    "x_triangle_auto",
    "x_triangle_sample",
    "x_ann_recall_audit",
    "x_tfidf_top_terms",
    "x_cohort_retention",
    "x_heavy_hitters",
    "x_bpe_segment",
    "x_bm25_search",
    "x_zipf_fit",
    "x_rfm_segments",
    "x_hll_merge",
    "x_importance_resample",
    "x_lpa_damped",
    "x_khop_reach",
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
    "DEFERRED_NEXT_ROUND",
    "TOUCHED_THIS_ROUND",
]
