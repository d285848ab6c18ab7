"""Frozen query lists of the query workloads.

Each list holds the headline queries (``bench.py`` HEADLINE) whose builders
live in the named modules, in registry order as of the benchmark's creation;
the lists stay as they are when the registry is reordered. A run executes
every k-th entry from the first (``STRIDE``): a run starts a JVM and pays a
cold pass before it measures anything, so each workload keeps few queries
and spends its time on repeated warm passes instead.

BENCHMARK.json runs ``relational`` and ``concept_dataprep``. ``llm_ops`` and
``stream_state`` stay runnable by name: every run pays about 17 s before its
first measured operation (JVM start, first Spark job) and about a minute in
all, and the benchmark's time budget leaves no room for a third workload
with enough warm samples. ``relational`` carries one stream, so the
streaming layer stays measured.
"""

from __future__ import annotations

# operators/relational.py, scalar.py, subqueries.py, composite2.py,
# composite3.py, sampling.py and sources/formats.py: JVM-native scans, joins,
# aggregates, windows and set ops, no Python workers.
RELATIONAL: tuple[str, ...] = (
    "d01_binary_source", "d01_dynamic_pruning", "d01_json_corrupt",
    "d01_text_source", "d02_group_sample", "d02_temperature_mix",
    "d03_bucketed_join", "d03_join_hints", "d10_corr_matrix", "d10_histogram",
    "d10_psi_drift", "d12_grouping_flags", "d12_unpivot",
    "d14_linear_interpolate", "d14_locf_fill", "d14_mad_outliers",
    "d14_time_range_sum", "d15_paginate", "d19_decimal_exact",
    "d19_try_arithmetic", "d21_map_funcs", "d01_scan_filter", "d03_inner_join",
    "d04_star_join", "d04_q3_shipping", "d07_range_join",
    "d08_asof_latest_event", "d09_hash_agg", "d09_q17_small_qty", "d12_rollup",
    "d12_cube", "d13_window_rank", "d15_topk", "d12_pivot", "d10_skew_report",
    "d14_zscore_outliers", "d16_intersect_all", "d05_null_safe_join",
    "d07_interval_join", "d14_running_distinct", "d27_top_paths",
    "d10_expectations", "d27_markov_transitions", "d14_date_bin_rollup",
    "d15_skyline", "d16_recursive_cte", "d10_benford", "d27_multi_touch",
    "d14_cusum", "d13_cume_dist", "d09_conditional_agg", "d18_calendar_dim",
    "d10_equidepth", "d27_rfm_segmentation", "d14_seasonal_profile",
    "d10_ks_drift", "d09_weighted_median", "d14_autocorr", "d11_countmin",
    "d14_theil_sen", "d16_sql_scripting", "d01_parameterized_sql",
    "d27_kaplan_meier", "d18_business_days", "d09_pareto_abc",
    "d11_quantile_sketch_merge", "d19_logsumexp", "d10_js_divergence",
    "d27_path_entropy", "d14_bollinger", "d09_hhi", "d10_modal_values",
    "d14_period_growth", "d02_temporal_split", "d33_regression_metrics",
    "d10_key_discovery", "d27_retention_cohorts", "d10_wasserstein_drift",
    "d10_cramers_v", "d10_stable_moments", "d27_interval_merge", "d14_twap",
    "d14_winsorize", "d27_audience_overlap", "d09_gini", "d14_rolling_corr",
    "d27_user_lifecycle", "d14_drawdown", "d09_topk_share", "d06_lateral_topn",
    "d09_q6_forecast_revenue", "d09_q9_product_profit", "d02_weighted_sample",
    "d02_negative_downsample", "d02_ab_assignment", "d17_string_funcs",
    "d20_array_funcs", "d17_collation", "d21_xml_roundtrip", "d20_sparse_dot",
    "d17_soundex", "d18_interval_arith", "d19_bitwise", "d17_regexp_battery",
    "d18_timezone", "d17_jaro_winkler", "d01_partitioned_read",
    "d01_nested_pruning", "d11_freq_items",
)

# operators/dedup.py, graph.py, similarity.py, text.py, multimodal.py,
# udf.py, ml.py and pipeline.py: pandas/Arrow Python workers, MinHash/ANN
# kernels, candidate-pair shuffles and table writes.
LLM_OPS: tuple[str, ...] = (
    "d29_decontaminate", "d29_triangle_count", "d30_mips_topk",
    "d31_chunk_text", "d31_unigram_logprob", "d31_vocab_topk", "d32_jpeg_meta",
    "d34_global_shuffle", "d34_shard_manifest", "d35_partition_stats",
    "d35_snapshot_diff", "d22_arrow_udf", "d23_grouped_arrow", "d24_inline",
    "d29_ppr_2iter", "d29_lpa_communities", "d22_pandas_udf",
    "d23_mean_center", "d23_cogrouped_map", "d24_mapinarrow", "d22_iter_udf",
    "d24_posexplode", "d24_arrow_native_udtf", "d24_udtf_analyze",
    "d24_udtf_table_partition", "d22_sql_udf", "d29_exact_dedup",
    "d29_incremental_dedup", "d29_fuzzy_join", "d29_shard_dup_matrix",
    "d29_exact_substr", "d29_substr_span_drop", "d30_knn_exact",
    "d30_hamming_topk", "d30_quantize_int8", "d30_filtered_knn",
    "d30_range_search", "d30_matryoshka_knn", "d30_hybrid_rrf",
    "d30_recall_eval", "d30_ndcg_eval", "d30_embedding_audit",
    "d30_centroid_assign", "d30_mrr_eval", "d31_quality_score", "d31_lang_id",
    "d31_repetition", "d31_bm25", "d31_hash_features", "d31_block_dedup",
    "d31_keywords", "d31_unicode_clean", "d31_gopher_filter",
    "d31_langid_eval", "d31_html_strip", "d31_sentence_dedup", "d31_url_parse",
    "d31_containment", "d31_bigram_logprob", "d31_pii_scrub",
    "d34_vocab_coverage", "d31_perplexity_buckets", "d31_pmi_collocations",
    "d31_heaps_law", "d32_image_decode", "d32_image_ahash", "d33_ols_mse",
    "d33_standard_scaler", "d33_prefixspan_journeys", "d34_llm_dataprep",
    "d35_upsert_cdc", "d34_sequence_pack", "d35_schema_evolution",
    "d34_token_budget", "d35_cdc_deletes", "d35_write_audit_publish",
    "d35_dynamic_overwrite", "d34_dataset_card", "d34_repro_fingerprint",
    "d35_vacuum_retention", "d35_deletion_vectors", "d34_curriculum_order",
    "d35_minmax_file_skip", "d34_chat_template", "d35_clustering_depth",
    "d34_loss_mask", "d35_zorder_interleave", "d33_calibration_ece",
    "d34_pack_attention_spans", "d35_stats_merge", "d35_compaction_plan",
    "d34_fim_transform", "d34_tokenizer_fertility", "d34_seq_len_histogram",
    "d34_soft_dedup_weights", "d29_minhash_near_dup", "d29_simhash_pairs",
    "d30_lsh_ann", "d30_pq_ann", "d30_ivf_pq", "d30_semantic_dedup",
    "d30_mmr_rerank", "d34_bpe_train",
)

# Every query of streaming/ops.py and streaming/stateful.py: each builder runs
# a whole availableNow stream with checkpoint and state commits.
STREAM_STATE: tuple[str, ...] = (
    "d27_retention", "d28_dedup_within_watermark", "d25_stream_full_outer",
    "d25_stream_right_outer", "d25_stream_semi_join", "d26_chained_agg",
    "d26_tumbling_window", "d26_sliding_window", "d27_session_window",
    "d28_keyed_dedup", "d25_stream_ingest", "d25_parquet_sink",
    "d25_stream_stream_join", "d25_stream_static_join", "d27_batch_sessionize",
    "d27_funnel", "d25_stream_upsert", "d26_append_finalize",
    "d25_stream_outer_join", "d27_attribution", "d26_update_mode",
    "d27_dynamic_gap_session", "d25_rate_source", "d26_stream_session_window",
    "d26_stream_drift_psi", "d25_first_seen_tws", "d25_stateful_totals",
    "d25_topk_tws", "d25_type_counts_tws", "d25_cohort_timer_tws",
    "d25_state_reader", "d25_state_changefeed", "d26_late_drop_metrics",
)

# Every k-th query of each frozen list, from the first. The strides were
# chosen so that the few queries a run keeps still cover what the workload is
# for: relational gets a scan, a ranking window, a broadcast join with
# aggregates (Kaplan-Meier) and a sort-heavy downsample (k = 31); llm_ops
# n-gram decontamination, a Python UDTF, SimHash candidate pairs, text
# features and a d35 table write (k = 24).
STRIDE = {"relational": 31, "llm_ops": 24, "stream_state": 11}

QUERY_WORKLOADS = {
    "relational": RELATIONAL,
    "llm_ops": LLM_OPS,
    "stream_state": STREAM_STATE,
}

# The stream the relational workload also runs, so the workloads in
# BENCHMARK.json keep the streaming layer measured: a stateful availableNow
# aggregate with checkpoint and state commits into a memory sink (under 1 s
# warm).
STREAM_PROBE = ("d25_stream_ingest",)


def selected(workload: str) -> list[str]:
    """The queries one run of ``workload`` executes."""
    names = list(QUERY_WORKLOADS[workload][::STRIDE[workload]])
    if workload == "relational":
        names += STREAM_PROBE
    return names
