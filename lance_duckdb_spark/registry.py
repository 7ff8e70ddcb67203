"""Central registry: merges every operator module's QUERIES/ORACLE.

Import failures in optional modules are not tolerated — every module
listed here is part of the declared SURVEY.md §2 surface.
"""

from __future__ import annotations

from .operators import (
    analytics,
    behavior,
    bucketing,
    clustering,
    curation,
    dedup,
    fts,
    hybrid,
    joins,
    knn_join,
    lance_ops,
    multimodal,
    pipeline,
    quantize,
    redaction,
    retrieval,
    similarity,
    skew,
    spans,
    sql_surface,
    sql_surface2,
    text,
    timeseries,
    tpch,
    tpch2,
    tpch3,
    window_funcs,
)
from .streaming import jobs as streaming_jobs

_MODULES = [
    tpch,
    tpch2,
    bucketing,
    curation,
    analytics,
    behavior,
    joins,
    text,
    timeseries,
    similarity,
    quantize,
    knn_join,
    skew,
    spans,
    fts,
    hybrid,
    dedup,
    clustering,
    lance_ops,
    multimodal,
    pipeline,
    retrieval,
    sql_surface,
    sql_surface2,
    tpch3,
    window_funcs,
    redaction,
    streaming_jobs,
]


def _merge(attr: str) -> dict:
    merged: dict = {}
    for mod in _MODULES:
        if not hasattr(mod, attr):
            # fail fast: a module silently contributing nothing would
            # shrink the driver's window / strip oracles with no
            # error — every listed module is mandatory declared
            # surface (r8 review; module docstring contract)
            raise AttributeError(
                f"operator module {mod.__name__} has no {attr} dict"
            )
        entries = getattr(mod, attr)
        overlap = merged.keys() & entries.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(entries)
    return merged


# The per-round correctness harness records exactly the first 50 queries of
# dict order and drops the rest (observed in rounds 1 and 2).  With >50
# registered queries, ordering decides which get a driver-verified row this
# round, so rotate by recency of verification:
#   1. never driver-verified (new queries, and the 9 that errored in r2 on the
#      events ts schema change before the tables.py fix),
#   2. stale — last green in round 1 only (a full round without a check),
#   3. fresh — green in round 2 (checked most recently).
# Within each tier the natural module order is kept.  Update these sets each
# round from CORRECTNESS_r{N}.json so the 50-slot window keeps sweeping.
_GREEN_R1 = {
    "ann_topk_bruteforce", "anti_semi_joins", "asof_join_events_orders",
    "char_entropy", "cohort_retention", "dedup_clusters", "dedup_exact",
    "dedup_keep_best", "dedup_minhash_lsh", "dedup_simhash", "distinct_counts",
    "doc_fingerprint", "embedding_neardup", "filter_pipeline", "funnel_steps",
    "lance_dataset_stats", "lance_pushdown_scan", "lance_roundtrip",
    "lance_time_travel", "lang_id", "multimodal_pipeline", "ngram_jaccard",
    "percentiles", "pivot_events", "quality_score", "range_join_events",
    "robust_stats", "rollup_revenue", "running_totals", "sessionize_events",
    "stats_moments", "stratified_sample", "tfidf_top_terms", "token_count",
    "top_revenue_per_segment", "tpch_q1", "tpch_q10", "tpch_q13", "tpch_q14",
    "tpch_q18", "tpch_q19", "tpch_q22", "tpch_q3", "tpch_q4", "tpch_q5",
    "tpch_q6", "tpch_q7",
    # rows-only by design, recorded in r1 (no hash, approximate algorithms)
    "approx_quantiles_vs_exact", "embedding_neardup_lsh", "ann_ivf",
}
_GREEN_R2 = {
    "array_functions", "case_buckets", "contamination_check",
    "correlated_subquery", "cross_source_overlap", "cube_revenue",
    "domain_mix", "exists_correlated", "group_quantile_arrays",
    "lance_compact", "lance_delete", "lance_native_read", "lance_upsert",
    "lance_version_diff", "monthly_revenue", "pii_redact",
    "repetition_filter", "sequence_packing", "set_ops", "string_funcs",
    "text_normalize", "tpch_q1", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q2", "tpch_q20",
    "tpch_q21", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q8",
    "tpch_q9", "url_domain_stats", "window_range_frames",
    "window_rank_functions",
}


# All 50 rows the round-3 harness recorded (46 hash-exact + 4 rows-only by
# design).  Union of r1/r2/r3 covers all 101 registered queries.
_GREEN_R3 = {
    "ann_ivf", "ann_ivf_indexed", "ann_topk_bruteforce", "anti_semi_joins",
    "approx_quantiles_vs_exact", "asof_join_events_orders",
    "boilerplate_lines", "char_entropy", "cohort_retention", "dedup_exact",
    "dedup_incremental", "dedup_minhash_lsh", "dedup_simhash",
    "distinct_counts", "doc_fingerprint", "embedding_neardup",
    "embedding_neardup_lsh", "event_transitions", "events_json_extract",
    "funnel_steps", "lance_delete_vector", "lance_schema_evolution",
    "lance_zorder_pruning", "lang_id", "leakage_safe_split", "ngram_jaccard",
    "percentiles", "pivot_events", "quality_score", "range_join_events",
    "robust_stats", "rollup_revenue", "running_totals",
    "session_window_native", "sessionize_events", "sql_api_priority_matrix",
    "stats_moments", "stream_dedup", "stream_sessionization",
    "stream_sink_roundtrip", "stream_stream_join", "stream_windowed_counts",
    "string_agg_ordered", "token_count", "top_revenue_per_segment",
    "tpch_q13", "tpch_q18", "tpch_q19", "tpch_q22", "tpch_q7",
}


# The 48 hash-exact rows CORRECTNESS_r04 recorded (its 2 `no_oracle`
# rows — sketch_distinct_rollup, ann_ivf_pq — are NOT listed: r5 gave
# them real hash oracles, so they queue as never-hash-verified).
_GREEN_R4 = {
    "bucketed_colocated_join", "perplexity_score", "continuous_aggregate",
    "skewed_hot_key_agg", "fts_bm25", "fts_bm25_indexed",
    "minhash_containment", "lance_scalar_index", "lance_bloom_pruning",
    "lance_vacuum", "lance_native_write", "stream_incremental_dedup",
    "stream_continuous_aggregate", "dedup_clusters", "lance_roundtrip",
    "lance_time_travel", "lance_pushdown_scan", "lance_dataset_stats",
    "multimodal_pipeline", "stratified_sample", "filter_pipeline",
    "dedup_keep_best", "tfidf_top_terms", "tpch_q1", "tpch_q3", "tpch_q4",
    "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q14", "contamination_check",
    "repetition_filter", "sequence_packing", "domain_mix",
    "cross_source_overlap", "lance_version_diff", "lance_native_read",
    "lance_upsert", "lance_delete", "lance_compact", "set_ops",
    "string_funcs", "monthly_revenue", "case_buckets", "cube_revenue",
    "window_range_frames", "correlated_subquery", "exists_correlated",
}

# All 50 rows CORRECTNESS_r05 recorded — every one hash-exact.
_GREEN_R5 = {
    "ann_ivf", "ann_ivf_indexed", "ann_ivf_pq", "anti_semi_joins",
    "approx_quantiles_vs_exact", "array_functions", "asof_join_events_orders",
    "boilerplate_lines", "char_entropy", "cohort_retention", "distinct_counts",
    "doc_fingerprint", "embedding_neardup_lsh", "funnel_steps",
    "group_quantile_arrays", "lance_stats_pushdown", "lang_id",
    "leakage_safe_split", "percentiles", "pii_redact", "pivot_events",
    "quality_score", "range_join_events", "robust_stats", "rollup_revenue",
    "running_totals", "sessionize_events", "sketch_distinct_rollup",
    "stats_moments", "temperature_resample", "text_normalize", "token_count",
    "top_revenue_per_segment", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q15",
    "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q2", "tpch_q20",
    "tpch_q21", "tpch_q22", "tpch_q7", "tpch_q8", "tpch_q9",
    "url_domain_stats", "window_rank_functions",
}

# All 50 rows CORRECTNESS_r06 recorded — every one hash-exact.
_GREEN_R6 = {
    "ann_topk_bruteforce", "bucketed_colocated_join", "contamination_check",
    "continuous_aggregate", "cross_source_overlap", "dedup_clusters",
    "dedup_exact", "dedup_incremental", "dedup_minhash_lsh", "dedup_simhash",
    "domain_mix", "embedding_neardup", "event_transitions",
    "events_json_extract", "fts_bm25", "fts_bm25_indexed",
    "lance_bloom_pruning", "lance_delete_vector", "lance_native_write",
    "lance_pushdown_scan", "lance_roundtrip", "lance_scalar_index",
    "lance_schema_evolution", "lance_sql_copy", "lance_time_travel",
    "lance_vacuum", "lance_version_diff", "lance_zorder_pruning",
    "minhash_containment", "ngram_jaccard", "perplexity_score",
    "repetition_filter", "sequence_packing", "session_window_native",
    "skewed_hot_key_agg", "skewed_hot_key_join", "sql_api_priority_matrix",
    "stream_dedup", "stream_sessionization", "stream_sink_roundtrip",
    "stream_stream_join", "stream_windowed_counts", "string_agg_ordered",
    "tpch_q1", "tpch_q10", "tpch_q14", "tpch_q3", "tpch_q4", "tpch_q5",
    "tpch_q6",
}

# All 50 rows CORRECTNESS_r07 recorded — every one green (the 11
# r7-new queries, the 20 last green in r4, and the 19 stalest r5
# entries).
_GREEN_R7 = {
    "ann_knn_join", "ann_knn_join_vectorized", "approx_quantiles_vs_exact",
    "boilerplate_lines", "case_buckets", "chunk_documents",
    "cluster_canonical", "cohort_retention", "correlated_subquery",
    "cube_revenue", "dedup_keep_best", "dedup_span_coverage",
    "distinct_counts", "embedding_neardup_ivf", "exists_correlated",
    "filter_pipeline", "fts_bm25_incremental", "funnel_steps",
    "hybrid_search", "hybrid_search_indexed", "lance_compact",
    "lance_dataset_stats", "lance_delete", "lance_native_read",
    "lance_upsert", "leakage_safe_split", "monthly_revenue",
    "multimodal_pipeline", "percentiles", "pivot_events",
    "quality_linear_probe", "robust_stats", "rollup_revenue",
    "running_totals", "set_ops", "stats_moments", "stratified_sample",
    "stream_continuous_aggregate", "stream_incremental_dedup",
    "stream_index_ingest", "string_funcs", "temperature_resample",
    "tfidf_top_terms", "top_revenue_per_segment", "tpch_q13", "tpch_q18",
    "tpch_q19", "tpch_q22", "tpch_q7", "window_range_frames",
}

# r8 window note: with _GREEN_R7 folded in, the stalest tier is the
# 31 r5-green entries the r7 window skipped (anti_semi_joins,
# array_functions, asof_join_events_orders, char_entropy,
# doc_fingerprint, embedding_neardup_lsh, group_quantile_arrays,
# lance_stats_pushdown, lang_id, pii_redact, quality_score,
# range_join_events, sessionize_events, sketch_distinct_rollup,
# text_normalize, token_count, tpch_q2/q8/q9/q11/q12/q15/q16/q17/
# q20/q21, url_domain_stats, window_rank_functions, ann_ivf,
# ann_ivf_indexed, ann_ivf_pq), then r6-green entries fill the
# remaining ~19 slots (module order). New r8 queries and
# the hash-changed chunk_documents lead.
#
# All 50 rows CORRECTNESS_r08 recorded — every one hash-exact (the 5
# r8-new queries, the hash-changed chunk_documents, the 31 stalest r5
# entries, and 13 r6-green fills).
_GREEN_R8 = {
    "ann_ivf", "ann_ivf_indexed", "ann_ivf_pq", "ann_sq8_indexed",
    "ann_sq8_topk", "anti_semi_joins", "array_functions",
    "asof_join_events_orders", "bucketed_colocated_join", "char_entropy",
    "chunk_documents", "contamination_bloom", "contamination_check",
    "cross_source_overlap", "doc_fingerprint", "domain_mix",
    "embedding_neardup_lsh", "group_quantile_arrays", "lance_stats_pushdown",
    "lance_take", "lang_id", "pii_redact", "quality_score",
    "range_join_events", "repetition_filter", "sequence_packing",
    "sessionize_events", "sketch_distinct_rollup", "stream_fts_ingest",
    "text_normalize", "token_count", "tpch_q1", "tpch_q10", "tpch_q11",
    "tpch_q12", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q2",
    "tpch_q20", "tpch_q21", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q8", "tpch_q9", "url_domain_stats", "window_rank_functions",
}

# All 50 rows CORRECTNESS_r09 recorded — every one hash-exact (the 3
# r9-new DML verbs, the 37 stalest r6-green entries, and 10 r7-green
# fills).
_GREEN_R9 = {
    "ann_topk_bruteforce", "boilerplate_lines", "continuous_aggregate",
    "dedup_clusters", "dedup_exact", "dedup_incremental",
    "dedup_minhash_lsh", "dedup_simhash", "embedding_neardup",
    "event_transitions", "events_json_extract", "fts_bm25",
    "fts_bm25_indexed", "lance_bloom_pruning", "lance_delete_vector",
    "lance_merge", "lance_native_write", "lance_pushdown_scan",
    "lance_roundtrip", "lance_scalar_index", "lance_schema_evolution",
    "lance_sql_copy", "lance_sql_delete", "lance_sql_update",
    "lance_time_travel", "lance_vacuum", "lance_version_diff",
    "lance_zorder_pruning", "leakage_safe_split", "minhash_containment",
    "ngram_jaccard", "perplexity_score", "running_totals",
    "session_window_native", "skewed_hot_key_agg", "skewed_hot_key_join",
    "sql_api_priority_matrix", "stream_dedup", "stream_sessionization",
    "stream_sink_roundtrip", "stream_stream_join", "stream_windowed_counts",
    "string_agg_ordered", "temperature_resample", "top_revenue_per_segment",
    "tpch_q13", "tpch_q18", "tpch_q19", "tpch_q22", "tpch_q7",
}

# r10 rotation note (verdict r9 item #3): window leads with r10-new
# queries + the hash-changed embedding_neardup_ivf, then the 39 entries last green in r7, then
# the 11 stalest r8 entries fill to 50; r9-green is the freshest
# tier. Max staleness stays <=2 rounds.

# r9 rotation note: with _GREEN_R8 folded in, the window leads with
# any r9-new queries, then the stalest tier —
# the 37 r6-green entries the r8 window did not re-sweep — then
# r7-green entries (stale one round) fill the remainder. r8-green is
# the freshest tier. Verified by executing the rotation before
# commit. Registry total at r8 close: 136; r9 adds the three DML
# verbs (lance_merge, lance_sql_delete, lance_sql_update — 139
# total) which lead the window as never-verified, displacing the
# three youngest r7-green fills to the r10 window.


# All 50 rows CORRECTNESS_r10 recorded — every one hash-exact (the 4
# r10-new queries, the hash-changed embedding_neardup_ivf, the 39
# entries last green in r7, and 6 r8-green fills).
_GREEN_R10 = {
    "ann_knn_join", "ann_knn_join_vectorized", "approx_quantiles_vs_exact",
    "bucketed_colocated_join", "case_buckets", "cluster_canonical",
    "cohort_retention", "contamination_check", "correlated_subquery",
    "cube_revenue", "dedup_keep_best", "dedup_span_coverage",
    "distinct_counts", "embedding_neardup_ivf", "exists_correlated",
    "filter_pipeline", "fts_bm25_incremental", "funnel_steps",
    "hybrid_search", "hybrid_search_indexed", "lance_compact",
    "lance_dataset_stats", "lance_delete", "lance_merge_conditional",
    "lance_native_read", "lance_take_dv", "lance_upsert", "monthly_revenue",
    "multimodal_pipeline", "percentiles", "pivot_events",
    "quality_linear_probe", "robust_stats", "rollup_revenue", "set_ops",
    "stats_moments", "stratified_sample", "stream_continuous_aggregate",
    "stream_incremental_dedup", "stream_index_ingest", "string_funcs",
    "tfidf_top_terms", "tpch_q1", "tpch_q10", "tpch_q14", "tpch_q3",
    "tpch_q4", "tpch_q5", "tpch_q6", "window_range_frames",
}

# r11 rotation note: window leads with lance_merge_insert_values
# (new), then the 41 entries last green in r8 (the stalest tier —
# exactly the staleness the r10 verdict flagged), then 8 r9-green
# fills. r10-green is the freshest tier; max staleness stays <=2
# rounds.

# All 50 rows CORRECTNESS_r11 recorded — every one hash-exact (the 5
# r11-new queries, the 41 entries last green in r8, 4 r9-green
# fills).
_GREEN_R11 = {
    "ann_ivf", "ann_ivf_indexed", "ann_ivf_pq", "ann_sq8_indexed",
    "ann_sq8_topk", "anti_semi_joins", "array_functions",
    "asof_join_events_orders", "char_entropy", "chunk_documents",
    "contamination_bloom", "cross_source_overlap", "doc_fingerprint",
    "domain_mix", "embedding_neardup_lsh", "group_quantile_arrays",
    "lance_cdc_deletes", "lance_describe_history",
    "lance_merge_insert_values", "lance_sql_insert",
    "lance_stats_pushdown", "lance_take", "lang_id", "pii_redact",
    "pipeline_compose", "quality_score", "range_join_events",
    "repetition_filter", "sequence_packing", "sessionize_events",
    "sketch_distinct_rollup", "stream_fts_ingest", "text_normalize",
    "token_count", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q15",
    "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q2",
    "tpch_q20", "tpch_q21", "tpch_q7", "tpch_q8", "tpch_q9",
    "url_domain_stats", "window_rank_functions",
}

# r12 rotation note (r11 verdict item 5): window leads with
# lance_sql_alter (new), then the 46 entries last green in r9 (the
# stalest tier, at the rotation contract's 2-round edge), then
# 3 r10-green fills. r11-green is the freshest tier.


# All 50 rows CORRECTNESS_r12 recorded — every one hash-exact (the 1
# r12-new query lance_sql_alter, the 46 entries last green in r9, and
# 3 r10-green fills).
_GREEN_R12 = {
    "ann_topk_bruteforce", "boilerplate_lines", "continuous_aggregate",
    "dedup_clusters", "dedup_exact", "dedup_incremental",
    "dedup_minhash_lsh", "dedup_simhash", "embedding_neardup",
    "event_transitions", "events_json_extract", "fts_bm25",
    "fts_bm25_indexed", "lance_bloom_pruning", "lance_delete_vector",
    "lance_merge", "lance_native_write", "lance_pushdown_scan",
    "lance_roundtrip", "lance_scalar_index", "lance_schema_evolution",
    "lance_sql_alter", "lance_sql_copy", "lance_sql_delete",
    "lance_sql_update", "lance_time_travel", "lance_vacuum",
    "lance_version_diff", "lance_zorder_pruning", "leakage_safe_split",
    "minhash_containment", "ngram_jaccard", "perplexity_score",
    "running_totals", "session_window_native", "skewed_hot_key_agg",
    "skewed_hot_key_join", "sql_api_priority_matrix", "stream_dedup",
    "stream_sessionization", "stream_sink_roundtrip",
    "stream_stream_join", "stream_windowed_counts",
    "string_agg_ordered", "temperature_resample",
    "top_revenue_per_segment", "tpch_q1", "tpch_q22", "tpch_q3",
    "tpch_q4",
}

# r13 hash-recheck (historical note; the set itself is retired now
# that _GREEN_R13 supersedes it): lance_sql_alter's chain gained a
# RENAME COLUMN step (note -> annotation) — new output column names,
# new hashes; oracle changed in lockstep. It led the r13 window and
# is green in CORRECTNESS_r13.

# r13 rotation note (r12 verdict item 6): window = 3 r13 new/recheck
# entries (ann_ivf_filtered, ann_knn_join_filtered, lance_sql_alter
# with its extended chain) + exactly the 47 entries last green in
# r10 (the stalest tier — ann_knn_join, bucketed_colocated_join,
# cube_revenue, hybrid_search, ... the set the r12 verdict flagged)
# = 50 slots, zero fills. Verified by executing the rotation.
#
# DELIBERATE DEFERRAL: r13 added FOUR queries needing a window slot,
# one more than fits beside the 47 contract-edge entries. The
# staleness contract (<=2 rounds) wins over a debut: the newest
# query, hybrid_search_filtered, was pinned just AFTER the r10 tier
# (position 51) so its first driver row lands in the r14 window,
# where it must LEAD. In r14 it is simply never-verified (in no
# _GREEN set) and sorts into the leading tier naturally.

# All 50 rows CORRECTNESS_r13 recorded — every one hash-exact (the
# 3 r13 new/recheck entries ann_ivf_filtered / ann_knn_join_filtered
# / lance_sql_alter, then the 47 entries last green in r10).
_GREEN_R13 = {
    "ann_ivf_filtered", "ann_knn_join_filtered", "lance_sql_alter",
    "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q14",
    "bucketed_colocated_join", "contamination_check",
    "distinct_counts", "rollup_revenue", "percentiles",
    "stats_moments", "robust_stats", "pivot_events",
    "approx_quantiles_vs_exact", "cohort_retention", "funnel_steps",
    "quality_linear_probe", "embedding_neardup_ivf", "ann_knn_join",
    "ann_knn_join_vectorized", "dedup_span_coverage",
    "fts_bm25_incremental", "hybrid_search", "hybrid_search_indexed",
    "cluster_canonical", "lance_take_dv", "lance_dataset_stats",
    "lance_native_read", "lance_upsert", "lance_merge_conditional",
    "lance_delete", "lance_compact", "multimodal_pipeline",
    "stratified_sample", "filter_pipeline", "dedup_keep_best",
    "tfidf_top_terms", "set_ops", "string_funcs", "monthly_revenue",
    "case_buckets", "cube_revenue", "window_range_frames",
    "correlated_subquery", "exists_correlated",
    "stream_incremental_dedup", "stream_continuous_aggregate",
    "stream_index_ingest",
}

# r14 rotation history: no r14 query changed its hash (the two new r14
# queries — ann_ivf_after_delete, lance_sql_ann — led as new names);
# hybrid_search_filtered led slot 1 as the one never-driver-checked
# entry (r13 deferral), and tpch_q11/q12/q15 slipped to r15 at
# 3-round staleness (the documented 53-for-50 exception). All of
# those are now resolved: hybrid_search_filtered and both r14-new
# queries are green in _GREEN_R14, and the three slips lead the r15
# window via _RECHECK_R15 below.

# All 50 rows CORRECTNESS_r14 recorded — every one hash-exact (the
# never-checked hybrid_search_filtered leading, the 2 r14-new
# queries, then the 47 stalest r11-green entries).
_GREEN_R14 = {
    "ann_ivf", "ann_ivf_after_delete", "ann_ivf_indexed", "ann_ivf_pq",
    "ann_sq8_indexed", "ann_sq8_topk", "anti_semi_joins",
    "array_functions", "asof_join_events_orders", "char_entropy",
    "chunk_documents", "contamination_bloom", "cross_source_overlap",
    "doc_fingerprint", "domain_mix", "embedding_neardup_lsh",
    "group_quantile_arrays", "hybrid_search_filtered",
    "lance_cdc_deletes", "lance_describe_history",
    "lance_merge_insert_values", "lance_sql_ann", "lance_sql_insert",
    "lance_stats_pushdown", "lance_take", "lang_id", "pii_redact",
    "pipeline_compose", "quality_score", "range_join_events",
    "repetition_filter", "sequence_packing", "sessionize_events",
    "sketch_distinct_rollup", "stream_fts_ingest", "text_normalize",
    "token_count", "tpch_q13", "tpch_q16", "tpch_q17", "tpch_q18",
    "tpch_q19", "tpch_q2", "tpch_q20", "tpch_q21", "tpch_q7",
    "tpch_q8", "tpch_q9", "url_domain_stats", "window_rank_functions",
}

# r15 recheck tier (r14 VERDICT item 1): these LEAD the r15 window,
# treated as never-verified. Not hash changes — the 14 query paths
# the r14 optimizer RESTRUCTURED (hash-preserving by the local sim,
# but never driver-oracle-checked in their new shape) plus the three
# documented r14 slips (tpch_q11/q12/q15, pure-SQL, 3 rounds stale).
# The r15-new lance_sql_fts (A22's owed match_bm25 driver debut)
# leads alongside by being in no _GREEN set.
_RECHECK_R15 = {
    # r14-restructured, driver-unsampled in r14
    "fts_bm25", "hybrid_search", "dedup_exact", "dedup_incremental",
    "cohort_retention", "leakage_safe_split", "contamination_check",
    "temperature_resample", "quality_linear_probe",
    "continuous_aggregate", "fts_bm25_indexed", "ann_ivf_filtered",
    "ngram_jaccard", "minhash_containment",
    # r14's documented slips
    "tpch_q11", "tpch_q12", "tpch_q15",
}

# r15 rotation note: window = the 17 _RECHECK_R15 entries +
# lance_sql_fts (new) = 18 leading slots, then 32 of the 40 entries
# last green in r12 (the stalest tier, at the contract's 2-round
# edge) fill to 50. EIGHT r12-green entries therefore slip to r16 at
# 3-round staleness — the same deliberate, documented exception as
# r14's: sql_api_priority_matrix, string_agg_ordered and six
# streaming jobs (stream_windowed_counts, session_window_native,
# stream_sessionization, stream_sink_roundtrip, stream_dedup,
# stream_stream_join) — all re-verified EXACT by the full local
# driver sim every round, none touched by the r14/r15 optimizer.
# Natural module order puts them at the r12 tier's tail (positions
# 51-58); once _GREEN_R15 is folded in they become the stalest tier
# and lead the r16 window automatically.


def _rotate(merged: dict) -> dict:
    # Tiers by last-verified round (never-verified / recheck first);
    # within each tier the natural module order holds.
    rounds = [
        _GREEN_R1, _GREEN_R2, _GREEN_R3, _GREEN_R4, _GREEN_R5, _GREEN_R6,
        _GREEN_R7, _GREEN_R8, _GREEN_R9, _GREEN_R10, _GREEN_R11,
        _GREEN_R12, _GREEN_R13, _GREEN_R14,
    ]

    def last_verified(k: str) -> float:
        if k in _RECHECK_R15:
            return 0
        return max(
            (i + 1 for i, s in enumerate(rounds) if k in s), default=0
        )

    order = sorted(merged, key=last_verified)  # stable: module order within tiers
    return {k: merged[k] for k in order}


QUERY_REGISTRY = _rotate(_merge("QUERIES"))
ORACLE_REGISTRY = _rotate(_merge("ORACLE"))
