"""Analytical query surface (SURVEY §2.6) + LLM-pipeline operators.

Every query is a function ``(spark, sf_dir) -> DataFrame`` whose output
column names match the DuckDB oracle SQL in ``oracles.py`` exactly (the
driver sorts columns by name before value-hashing).

DRIVER-WINDOW ROTATION — THE ONE CURRENT NOTE (r14; supersedes the
per-round narratives that used to live between the historical lists;
each round's own derivation sits above its list):

The driver emits CORRECTNESS rows for the FIRST 50 keys of
``ALL_QUERIES`` in insertion order. The rotation is governed by three
invariants (unchanged since r9):
  (1) zero ever-unchecked operators after each round's window runs —
      operators added after a round's window is frozen MUST lead the
      next round's window;
  (2) strict oldest-first rotation (staleness uniform, never
      concentrated) — at a registry of ~174 keys over 50 slots the
      steady-state staleness bound is ceil(174/50) = 4 rounds;
  (3) any operator whose code or oracle changes re-fronts immediately.
Staleness sets are DERIVED FROM THE CORRECTNESS_r*.json ARTIFACTS
(latest round with a green row per key; within a cohort, that round's
window order), never from memory — see the verify skill.

The historical ``_R5_FRONT`` .. ``_R14_FRONT`` lists below are frozen
data: each was that round's window, and the chain of ``_prioritize``
calls deterministically fixes the tail order past slot 50. Do not edit
them; append a new ``_R{N}_FRONT`` per round. ``_prioritize`` skips
missing keys, so deregistered/merged keys are harmless in old lists.

The local sweep (CORRECTNESS_local_r{N}.json) covers the FULL registry
at sf0.01 every round regardless of the window.
"""

from catalyst_spark.queries.relational import RELATIONAL_QUERIES
from catalyst_spark.queries.pipeline import PIPELINE_QUERIES
from catalyst_spark.queries.tsdb import TSDB_QUERIES
from catalyst_spark.queries.oracles import ORACLE_SQL

def _interleave(*groups):
    """Round-robin the query groups so the driver's 50-entry CORRECTNESS
    window (insertion order) samples every family each round instead of
    leaving a permanent blind spot at the tail (VERDICT r2 item 2)."""
    iters = [iter(g.items()) for g in groups]
    out = {}
    while iters:
        nxt = []
        for it in iters:
            try:
                k, v = next(it)
            except StopIteration:
                continue
            out[k] = v
            nxt.append(it)
        iters = nxt
    return out


def _prioritize(group, first):
    """Move ``first`` keys to the front of a group (keys the driver has
    never emitted a CORRECTNESS row for go first so they land inside the
    50-entry window this round)."""
    ordered = {k: group[k] for k in first if k in group}
    ordered.update((k, v) for k, v in group.items() if k not in ordered)
    return ordered


# Historical per-family base orderings (r3-era; frozen — they only
# seed the interleave before the round lists below reorder the front).
_TSDB_PRIORITY = [
    "path_transitions", "holt_linear_smooth", "cusum_changepoints",
    "histogram_quantile", "sessionize", "ts_rate", "counter_rate", "rolling_window_7d",
    "funnel_conversion", "retention_cohorts", "gap_fill", "anomaly_zscore",
    "series_correlation", "time_weighted_avg", "ts_downsample",
    "ohlc_downsample", "range_join_events", "distinct_sketch",
    "pivot_event_counts", "value_histogram",
]

_PIPELINE_PRIORITY = [
    "ann_ivf_topk", "ann_recall_at_5", "text_stats", "lang_id_confusion",
    "token_counts", "doc_fingerprint",
    "approx_topk_tokens", "dedup_keep_best", "dedup_rate_by_source",
    "rare_token_ratio", "ngram_novelty", "embedding_norm_outliers",
    "chunk_dedup", "bloom_decontaminate", "semdedup_ivf",
]

ALL_QUERIES = _interleave(
    RELATIONAL_QUERIES,
    _prioritize(PIPELINE_QUERIES, _PIPELINE_PRIORITY),
    _prioritize(TSDB_QUERIES, _TSDB_PRIORITY),
)

# Historical driver windows (frozen data — see the module docstring).
# r5 window (VERDICT r4 item 2).
_R5_FRONT = [
    "ann_ivfpq_topk", "ann_ivfpq_recall", "pq_distortion",
    "domain_cap_sample", "dedup_cluster_size_hist",
    "interval_coverage", "burn_rate_windows", "asof_nearest_join",
    "doc_length_quartiles_by_source", "truncation_stats",
    "lsh_band_recall_curve", "dedup_threshold_sensitivity",
    "quality_survival_curve",
    "text_simhash",
    "asof_prior_click", "cube_event_counts", "json_props_stats",
    "pivot_event_counts", "rollup_doc_counts", "top3_per_group",
    "value_histogram", "value_percentiles",
    "ann_brute_topk", "ann_ivf_trained_topk", "contamination_overlap",
    "dedup_embedding_cosine", "dedup_embedding_lsh", "dedup_minhash_pairs",
    "dedup_ngram_jaccard", "dedup_simhash_pairs", "distinctive_terms",
    "heavy_hitters", "ivf_train", "lsh_recall_vs_exact",
    "minhash_jaccard_estimate", "mixture_weights", "pack_sequences",
    "q18_running_total", "q20_customer_deciles", "q21_salted_skew_join",
    "quality_filter", "repetition_ratio", "source_minhash_similarity",
    "stratified_sample", "top_ngrams", "train_val_test_split",
    "vocab_stats",
    "anomaly_zscore", "bloom_decontaminate", "chunk_dedup",
]

# r6 window (VERDICT r5 item 1).
_R6_FRONT = [
    "ann_ivfpq_residual_topk", "ann_ivfpq_residual_recall",
    "ann_sq8_topk", "ann_sq8_recall", "ivf_cell_stats",
    "unigram_surprisal", "bigram_surprisal", "semdedup_keep_one",
    "pq_distortion", "interval_coverage", "dedup_threshold_sensitivity",
    "ann_multiprobe_recall", "ann_ivfpq_topk", "ann_ivfpq_recall",
    "ann_pq_adc_topk", "ann_pq_recall", "ivf_train",
    "ann_ivf_trained_topk", "semdedup_ivf", "window_overlap_source_matrix",
    "source_minhash_similarity",
    "dedup_exact", "dedup_token_set", "dedup_rate_by_source",
    "embedding_norm_outliers", "funnel_conversion", "retention_cohorts",
    "gap_fill", "ngram_novelty", "rare_token_ratio", "ohlc_downsample",
    "ts_downsample", "time_weighted_avg", "series_correlation",
    "rolling_window_7d",
    "q9_semi_join", "q10_anti_join", "q11_top_k", "q12_set_op",
    "q13_string_functions", "q14_case_cascade", "q15_union_dedup",
    "q16_text_group", "q17_exact_dedup_counts",
    "dedup_prefix_filter", "dedup_clusters", "cusum_chunked",
    "holt_chunked", "cusum_changepoints", "seasonal_hourly_profile",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R6_FRONT)

# r7 window (VERDICT r6 item 1).
_R7_FRONT = [
    "phash_dup_pairs", "near_dup_pagerank_converged",
    "dedup_edit_distance", "ann_ivfpq_rerank_topk",
    "ann_ivfpq_rerank_recall", "phash_dup_clusters",
    "window_selfdup_cut", "lsh_bucket_size_hist",
    "ann_sq8_ivf_topk", "ann_sq8_ivf_recall",
    "ann_ivf_topk", "ann_recall_at_5", "approx_topk_tokens",
    "boilerplate_spans", "counter_rate", "dedup_keep_best",
    "dedup_keep_one", "distinct_sketch", "doc_fingerprint",
    "equi_depth_bins", "ewma_smooth", "histogram_quantile",
    "hll_distinct_sketch", "holt_linear_smooth",
    "incremental_rollup_merge", "lag_features", "lang_id_confusion",
    "near_dup_pagerank", "near_dup_source_matrix", "path_transitions",
    "percentile_sketch",
    "q1_filter_project_sort", "q2_time_bucket", "q3_hash_aggregate",
    "q4_distinct_aggregate", "q5_latest_per_series", "q6_tpch_q1",
    "q7_broadcast_join", "q8_multi_join", "q19_above_brand_avg",
    "range_join_events", "robust_outliers", "session_cooccurrence",
    "sessionize", "text_stats", "token_counts", "ts_rate",
    "user_growth_curve", "window_decontaminate", "window_selfdup_spans",
    "unigram_surprisal",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R7_FRONT)

# r8 window (VERDICT r7 items 1–2).
_R8_FRONT = [
    "bpe_merge_stats", "token_coverage_curve", "incremental_shard_dedup",
    "rank_fusion_topk", "ivf_rek_cell_stats", "dup_quality_audit",
    "unigram_surprisal",
    "ann_brute_topk", "anomaly_zscore", "asof_nearest_join",
    "asof_prior_click", "bloom_decontaminate", "burn_rate_windows",
    "chunk_dedup", "contamination_overlap", "cube_event_counts",
    "dedup_cluster_size_hist", "dedup_embedding_cosine",
    "dedup_embedding_lsh", "dedup_minhash_pairs", "dedup_ngram_jaccard",
    "dedup_simhash_pairs", "distinctive_terms",
    "doc_length_quartiles_by_source", "domain_cap_sample",
    "heavy_hitters", "json_props_stats", "lsh_band_recall_curve",
    "lsh_recall_vs_exact", "minhash_jaccard_estimate", "mixture_weights",
    "pack_sequences", "pivot_event_counts", "q18_running_total",
    "q20_customer_deciles", "q21_salted_skew_join", "quality_filter",
    "quality_survival_curve", "repetition_ratio", "rollup_doc_counts",
    "stratified_sample", "text_simhash", "top3_per_group", "top_ngrams",
    "train_val_test_split", "truncation_stats", "value_histogram",
    "value_percentiles", "vocab_stats",
    "ann_sq8_ivf_rek_topk",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R8_FRONT)

# r9 window (VERDICT r8 item 1).
_R9_FRONT = [
    "ann_sq8_ivf_rek_recall", "rank_fusion_indexed", "rank_fusion_recall",
    "incremental_shard_apply", "window_selfdup_cut_first",
    "packing_efficiency_curve", "contamination_ngram_sizes",
    "pii_extract_stats", "boilerplate_line_cut", "curation_funnel",
    "gopher_quality_rules", "dup_ngram_coverage", "temperature_resample",
    "label_centroid_similarity",
    "dedup_exact", "dedup_token_set", "q9_semi_join", "q10_anti_join",
    "q11_top_k", "q12_set_op", "q13_string_functions", "q14_case_cascade",
    "q15_union_dedup", "q16_text_group", "q17_exact_dedup_counts",
    "dedup_rate_by_source", "ngram_novelty", "rare_token_ratio",
    "funnel_conversion", "retention_cohorts", "gap_fill",
    "ohlc_downsample", "ts_downsample", "time_weighted_avg",
    "dedup_clusters", "series_correlation", "rolling_window_7d",
    "embedding_norm_outliers", "seasonal_hourly_profile",
    "cusum_chunked", "holt_chunked", "cusum_changepoints",
    "dedup_prefix_filter", "source_minhash_similarity", "semdedup_ivf",
    "ann_multiprobe_recall", "ivf_train", "ann_ivf_trained_topk",
    "ann_pq_adc_topk", "ann_pq_recall",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R9_FRONT)

# r10 window (VERDICT r9 items 1 + 6 — the recall-ladder merge round).
_R10_FRONT = [
    "tokenizer_fertility", "shard_manifest", "embedding_dim_variance",
    "chunk_overlap_split", "dsir_importance_weights",
    "hard_negative_mining", "ann_nprobe_sweep", "cdc_chunk_dedup",
    "ltob_downsample", "embedding_principal_direction",
    "mmr_diversified_topk",
    "ann_recall_ladder",
    "ann_ivfpq_topk", "ann_ivfpq_residual_topk", "ann_sq8_topk",
    "ivf_cell_stats", "bigram_surprisal", "window_overlap_source_matrix",
    "pq_distortion", "interval_coverage", "semdedup_keep_one",
    "dedup_threshold_sensitivity",
    "ann_ivf_topk", "approx_topk_tokens", "boilerplate_spans",
    "counter_rate", "dedup_keep_best", "dedup_keep_one",
    "distinct_sketch", "doc_fingerprint", "equi_depth_bins",
    "ewma_smooth", "histogram_quantile", "hll_distinct_sketch",
    "holt_linear_smooth", "incremental_rollup_merge", "lag_features",
    "lang_id_confusion", "near_dup_pagerank", "near_dup_source_matrix",
    "path_transitions", "percentile_sketch", "q1_filter_project_sort",
    "q2_time_bucket", "q3_hash_aggregate", "q4_distinct_aggregate",
    "q5_latest_per_series", "q6_tpch_q1", "q7_broadcast_join",
    "q8_multi_join",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R10_FRONT)

# r11 window (VERDICT r10 items 1–3 + 6 — the rounding-audit round).
_R11_FRONT = [
    "hard_negative_indexed", "contrastive_triplets",
    "perplexity_buckets", "serving_overlap",
    "embedding_dim_variance", "ts_rate", "time_weighted_avg",
    "anomaly_zscore", "series_correlation", "counter_rate",
    "histogram_quantile", "value_percentiles",
    "doc_length_quartiles_by_source", "embedding_norm_outliers",
    "ivf_train", "lsh_band_recall_curve",
    "cusum_changepoints", "holt_linear_smooth",
    "q19_above_brand_avg", "range_join_events", "robust_outliers",
    "session_cooccurrence", "sessionize", "text_stats", "token_counts",
    "user_growth_curve", "window_decontaminate", "window_selfdup_spans",
    "phash_dup_pairs", "near_dup_pagerank_converged",
    "dedup_edit_distance", "ann_ivfpq_rerank_topk", "phash_dup_clusters",
    "window_selfdup_cut", "lsh_bucket_size_hist", "ann_sq8_ivf_topk",
    "bpe_merge_stats", "token_coverage_curve", "incremental_shard_dedup",
    "rank_fusion_topk", "ivf_rek_cell_stats", "dup_quality_audit",
    "unigram_surprisal", "ann_brute_topk", "asof_nearest_join",
    "asof_prior_click", "bloom_decontaminate", "burn_rate_windows",
    "chunk_dedup", "contamination_overlap",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R11_FRONT)

# r12 window (VERDICT r11 items 1 + 3).
_R12_FRONT = [
    "embedding_quantile_clip", "cluster_balanced_sample",
    "dim_truncation_recall", "source_token_tvd", "ann_mrl_rerank_topk",
    "audio_fp_dup_pairs", "video_frame_dup_pairs",
    "embedding_dim_variance", "seasonal_hourly_profile",
    "ann_nprobe_sweep", "distinct_sketch",
    "cube_event_counts", "dedup_cluster_size_hist",
    "dedup_embedding_cosine", "dedup_embedding_lsh",
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_simhash_pairs",
    "distinctive_terms", "domain_cap_sample", "heavy_hitters",
    "json_props_stats", "minhash_jaccard_estimate", "mixture_weights",
    "pack_sequences", "pivot_event_counts", "q18_running_total",
    "q20_customer_deciles", "q21_salted_skew_join", "quality_filter",
    "quality_survival_curve", "repetition_ratio", "rollup_doc_counts",
    "stratified_sample", "text_simhash", "top3_per_group", "top_ngrams",
    "train_val_test_split", "truncation_stats", "value_histogram",
    "vocab_stats", "ann_sq8_ivf_rek_topk",
    "rank_fusion_indexed", "incremental_shard_apply",
    "window_selfdup_cut_first", "packing_efficiency_curve",
    "contamination_ngram_sizes", "pii_extract_stats",
    "boilerplate_line_cut", "curation_funnel",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R12_FRONT)

# r13 window (VERDICT r12 items 1–4 — the decimal-bisection round; the
# three one-round edv_diag_* keys it led with were deleted in r14 after
# the bisection verdict landed, and _prioritize skips them here).
_R13_FRONT = [
    "edv_diag_sums_bigint", "edv_diag_sums_decimal", "edv_diag_derived",
    "embedding_dim_variance",
    "shard_manifest",
    "gopher_quality_rules", "dup_ngram_coverage", "temperature_resample",
    "label_centroid_similarity", "dedup_exact", "dedup_token_set",
    "q9_semi_join", "q10_anti_join", "q11_top_k", "q12_set_op",
    "q13_string_functions", "q14_case_cascade", "q15_union_dedup",
    "q16_text_group", "q17_exact_dedup_counts", "dedup_rate_by_source",
    "ngram_novelty", "rare_token_ratio", "funnel_conversion",
    "retention_cohorts", "gap_fill", "ohlc_downsample", "ts_downsample",
    "dedup_clusters", "rolling_window_7d", "dedup_prefix_filter",
    "source_minhash_similarity", "semdedup_ivf", "ann_ivf_trained_topk",
    "ann_pq_adc_topk",
    "tokenizer_fertility", "chunk_overlap_split",
    "dsir_importance_weights", "hard_negative_mining", "cdc_chunk_dedup",
    "ltob_downsample", "embedding_principal_direction",
    "mmr_diversified_topk", "ann_recall_ladder", "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk", "ann_sq8_topk", "ivf_cell_stats",
    "bigram_surprisal", "window_overlap_source_matrix",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R13_FRONT)

# Round-14 driver window (VERDICT r13 items 1–3; staleness derived from
# the CORRECTNESS artifacts this session — latest-green histogram
# {r10: 27, r11: 49, r12: 49, r13: 49} over the 174-key registry after
# the edv_diag_* deletion, never-green = the two r13 additions):
#   (a) the TWO never-driver-checked operators — dedup_winnow_pairs and
#       kmv_set_ops arrived after the r13 window was frozen at the
#       staleness-mandated 50 (invariant 1: they lead);
#   (b) all 27 r10-stale ops, CORRECTNESS_r10 window order — the
#       4-round staleness bound expires for them THIS round (the r13
#       spill list, held to exactly);
#   (c) the 21 oldest r11-stale ops, CORRECTNESS_r11 window order
#       (hard_negative_indexed .. session_cooccurrence).
# 2 + 27 + 21 = 50 slots exactly. After this window nothing is staler
# than r11. Spilling to r15, in order: FIRST the new-in-r14 operators
# (registry tail, never driver-checked — invariant 1: currently
# shard_apply_compaction), then the changed-code re-fronts (invariant
# 3: q20_customer_deciles — the r14 two-phase ntile rewrite; its last
# green row is r12, so it also rides the ordinary rotation), then the
# remaining 28 r11-stale ops in CORRECTNESS_r11 window order
# (sessionize, text_stats, token_counts, user_growth_curve,
# window_decontaminate, window_selfdup_spans, phash_dup_pairs,
# near_dup_pagerank_converged, dedup_edit_distance,
# ann_ivfpq_rerank_topk, phash_dup_clusters, window_selfdup_cut,
# lsh_bucket_size_hist, ann_sq8_ivf_topk, bpe_merge_stats,
# token_coverage_curve, incremental_shard_dedup, rank_fusion_topk,
# ivf_rek_cell_stats, dup_quality_audit, unigram_surprisal,
# ann_brute_topk, asof_nearest_join, asof_prior_click,
# bloom_decontaminate, burn_rate_windows, chunk_dedup,
# contamination_overlap — their bound expires at r15), then the
# r12-stale rotation oldest-first. The three invariants hold.
_R14_FRONT = [
    # (a) never driver-checked — the r13 additions (invariant 1)
    "dedup_winnow_pairs", "kmv_set_ops",
    # (b) r10-stale, CORRECTNESS_r10 window order — bound expires now
    "pq_distortion", "interval_coverage", "semdedup_keep_one",
    "dedup_threshold_sensitivity", "ann_ivf_topk", "approx_topk_tokens",
    "boilerplate_spans", "dedup_keep_best", "dedup_keep_one",
    "doc_fingerprint", "equi_depth_bins", "ewma_smooth",
    "incremental_rollup_merge", "lag_features", "lang_id_confusion",
    "near_dup_pagerank", "near_dup_source_matrix", "path_transitions",
    "percentile_sketch", "q1_filter_project_sort", "q2_time_bucket",
    "q3_hash_aggregate", "q4_distinct_aggregate", "q5_latest_per_series",
    "q6_tpch_q1", "q7_broadcast_join", "q8_multi_join",
    # (c) the 21 oldest r11-stale, CORRECTNESS_r11 window order
    "hard_negative_indexed", "contrastive_triplets", "perplexity_buckets",
    "serving_overlap", "ts_rate", "time_weighted_avg", "anomaly_zscore",
    "series_correlation", "counter_rate", "histogram_quantile",
    "value_percentiles", "doc_length_quartiles_by_source",
    "embedding_norm_outliers", "ivf_train", "lsh_band_recall_curve",
    "cusum_changepoints", "holt_linear_smooth", "q19_above_brand_avg",
    "range_join_events", "robust_outliers", "session_cooccurrence",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R14_FRONT)

# Round-16 driver window. The r15 run repeated the r14 window, so the
# rotation stalled; staleness derived from CORRECTNESS_r01..r15.json
# (latest green row per key) over the 175-key registry is
# {never: 1, r11: 28, r12: 49, r13: 47, r15: 50}:
#   (a) shard_apply_compaction, the one key never driver-checked
#       (invariant 1);
#   (b) all 28 r11-stale ops, CORRECTNESS_r11 window order — the r15
#       spill list, their bound long expired;
#   (c) the 21 oldest r12-stale ops, CORRECTNESS_r12 window order
#       (embedding_quantile_clip .. json_props_stats).
# 1 + 28 + 21 = 50 slots. Spilling to the next window, oldest first:
# the remaining 28 r12-stale ops in CORRECTNESS_r12 window order
# (minhash_jaccard_estimate .. curation_funnel, which includes the
# changed-code re-front q20_customer_deciles), then the r13-stale ops.
_R16_FRONT = [
    # (a) never driver-checked (invariant 1)
    "shard_apply_compaction",
    # (b) r11-stale, CORRECTNESS_r11 window order
    "sessionize", "text_stats", "token_counts", "user_growth_curve",
    "window_decontaminate", "window_selfdup_spans", "phash_dup_pairs",
    "near_dup_pagerank_converged", "dedup_edit_distance",
    "ann_ivfpq_rerank_topk", "phash_dup_clusters", "window_selfdup_cut",
    "lsh_bucket_size_hist", "ann_sq8_ivf_topk", "bpe_merge_stats",
    "token_coverage_curve", "incremental_shard_dedup", "rank_fusion_topk",
    "ivf_rek_cell_stats", "dup_quality_audit", "unigram_surprisal",
    "ann_brute_topk", "asof_nearest_join", "asof_prior_click",
    "bloom_decontaminate", "burn_rate_windows", "chunk_dedup",
    "contamination_overlap",
    # (c) the 21 oldest r12-stale, CORRECTNESS_r12 window order
    "embedding_quantile_clip", "cluster_balanced_sample",
    "dim_truncation_recall", "source_token_tvd", "ann_mrl_rerank_topk",
    "audio_fp_dup_pairs", "video_frame_dup_pairs", "seasonal_hourly_profile",
    "ann_nprobe_sweep", "distinct_sketch", "cube_event_counts",
    "dedup_cluster_size_hist", "dedup_embedding_cosine",
    "dedup_embedding_lsh", "dedup_minhash_pairs", "dedup_ngram_jaccard",
    "dedup_simhash_pairs", "distinctive_terms", "domain_cap_sample",
    "heavy_hitters", "json_props_stats",
]

ALL_QUERIES = _prioritize(ALL_QUERIES, _R16_FRONT)

__all__ = [
    "RELATIONAL_QUERIES",
    "PIPELINE_QUERIES",
    "TSDB_QUERIES",
    "ALL_QUERIES",
    "ORACLE_SQL",
]
