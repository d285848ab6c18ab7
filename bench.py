#!/usr/bin/env python
"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints per-query wall-clock seconds: a full-detail JSON line followed by
a compact (<1 KB) summary JSON line LAST, so a tail-capture that truncates
long lines always retains a parseable record (see _emit).

Each query is timed through tools/stages.py::timed_run, which materializes
every column (count() would let Catalyst prune columns, and with them whole
windows and exchanges). One untimed warm-up pass primes the JVM, the file
cache and the codegen cache; then three timed passes run round-robin over
the queries, forward, reverse and forward again, and each query reports the
min of its three runs.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from conceptnetwork_spark import get_spark, registry  # noqa: E402
from perfbench.run import calibrate  # noqa: E402
from stages import timed_run  # noqa: E402

# Headline set: one per operator family, covering scan/join/agg/window/
# setop/scalar/UDF/streaming-batch/dedup/similarity/text/ML.
HEADLINE = [
    "d01_scan_filter",
    "d03_inner_join",
    "d04_star_join",
    "d04_q3_shipping",
    "d07_range_join",
    "d08_asof_latest_event",
    "d09_hash_agg",
    "d09_q6_forecast_revenue",
    "d09_q9_product_profit",
    "d09_q17_small_qty",
    "d12_rollup",
    "d12_cube",
    "d12_pivot",
    "d13_window_rank",
    "d15_topk",
    "d17_string_funcs",
    "d20_array_funcs",
    "d22_pandas_udf",
    "d23_mean_center",
    "d25_stream_stream_join",
    "d26_tumbling_window",
    "d27_session_window",
    "d29_exact_dedup",
    "d29_minhash_near_dup",
    "d29_simhash_pairs",
    "d30_knn_exact",
    "d30_lsh_ann",
    "d30_quantize_int8",
    "d31_lang_id",
    "d31_quality_score",
    "d33_ols_mse",
    "d34_llm_dataprep",
    "d35_upsert_cdc",
    "d25_parquet_sink",
    # round-3 flagships
    "d31_repetition",
    "d31_unigram_logprob",
    "d31_bm25",
    "d34_sequence_pack",
    "d30_pq_ann",
    "d25_stream_upsert",
    "d32_image_decode",
    # round-3 second wave
    "d29_decontaminate",
    "d31_vocab_topk",
    "d31_chunk_text",
    "d14_zscore_outliers",
    "d35_snapshot_diff",
    "d29_triangle_count",
    "d24_mapinarrow",
    "d01_partitioned_read",
    "d26_append_finalize",
    "d30_semantic_dedup",
    # round-4 additions
    "d02_weighted_sample",
    "d10_skew_report",
    "d27_funnel",
    "d34_global_shuffle",
    # round-4 second wave
    "d02_group_sample",
    "d31_hash_features",
    "d35_schema_evolution",
    "d23_cogrouped_map",
    # round-4 third wave
    "d01_text_source",
    "d01_binary_source",
    "d14_linear_interpolate",
    "d27_attribution",
    "d34_token_budget",
    "d30_filtered_knn",
    "d31_block_dedup",
    "d10_corr_matrix",
    "d30_range_search",
    "d02_temperature_mix",
    "d35_cdc_deletes",
    "d35_write_audit_publish",
    "d35_dynamic_overwrite",
    "d27_dynamic_gap_session",
    "d16_intersect_all",
    "d22_iter_udf",
    "d23_grouped_arrow",
    "d24_posexplode",
    "d31_keywords",
    "d32_jpeg_meta",
    "d05_null_safe_join",
    "d34_shard_manifest",
    # round-4 fourth wave
    "d07_interval_join",
    "d14_running_distinct",
    "d30_mips_topk",
    "d35_partition_stats",
    "d12_unpivot",
    "d10_psi_drift",
    "d34_dataset_card",
    "d31_unicode_clean",
    "d22_arrow_udf",
    "d31_gopher_filter",
    "d14_mad_outliers",
    "d14_time_range_sum",
    "d27_top_paths",
    "d24_inline",
    "d03_join_hints",
    "d15_paginate",
    "d19_decimal_exact",
    "d31_langid_eval",
    "d03_bucketed_join",
    "d01_dynamic_pruning",
    "d34_repro_fingerprint",
    "d01_json_corrupt",
    "d33_standard_scaler",
    "d11_freq_items",
    "d21_map_funcs",
    "d29_incremental_dedup",
    "d10_histogram",
    "d31_html_strip",
    "d14_locf_fill",
    "d12_grouping_flags",
    "d19_try_arithmetic",
    "d30_matryoshka_knn",
    # round-5 additions (the TWS queries and d01_python_stream_source are
    # swept, not headlined — multi-micro-batch machinery, same policy as
    # the other streaming queries)
    "d24_arrow_native_udtf",
    "d17_collation",
    "d10_expectations",
    "d31_sentence_dedup",
    "d35_vacuum_retention",
    "d30_hybrid_rrf",
    "d27_markov_transitions",
    # round-6 additions. d33_fpgrowth_pairs and d25_rate_source are swept,
    # not headlined (FPGrowth re-fit = training cost, same policy as
    # d33_cross_validation; rate source = multi-micro-batch machinery).
    # The ANN queries ARE headlined: their PQ/IVF index builds are cached
    # per (session, corpus) like a production index, so the headline times
    # the serve path and the one-shot sweep shows the cold build.
    "d30_hamming_topk",
    "d14_date_bin_rollup",
    "d06_lateral_topn",
    "d30_ivf_pq",
    "d24_udtf_analyze",
    "d01_nested_pruning",
    "d21_xml_roundtrip",
    "d35_deletion_vectors",
    "d31_url_parse",
    "d01_python_datasink",
    # round-6 wave 3
    "d15_skyline",
    "d16_recursive_cte",
    "d10_benford",
    "d27_multi_touch",
    "d14_cusum",
    "d24_udtf_table_partition",
    "d34_curriculum_order",
    "d31_containment",
    "d20_sparse_dot",
    "d17_soundex",
    "d30_mmr_rerank",
    "d13_cume_dist",
    "d09_conditional_agg",
    "d18_calendar_dim",
    "d29_fuzzy_join",
    "d10_equidepth",
    "d32_image_ahash",
    "d27_rfm_segmentation",
    "d14_seasonal_profile",
    "d18_interval_arith",
    # d33_cross_validation is swept, not headlined: a timed min-of-3 would
    # re-fit 2 folds x 2 grid params three times (training cost, not query
    # cost) — same policy as d33_gbt_mse / the multi-batch stream queries.
    # d25_stream_semi_join and d26_update_mode are NOT here for the same
    # reason the other stream-stream/multi-batch queries aren't: a timed
    # min-of-3 would re-run the full 2-micro-batch state machinery three
    # times (~8 s of checkpoint/state commits, not query work). The sweep
    # times them cold; the driver correctness gate hash-checks them.
    # round-6 wave 6
    "d10_ks_drift",
    "d09_weighted_median",
    "d14_autocorr",
    "d19_bitwise",
    "d17_regexp_battery",
    "d35_minmax_file_skip",
    "d18_timezone",
    "d31_bigram_logprob",
    "d34_chat_template",
    "d35_clustering_depth",
    "d11_countmin",
    "d14_theil_sen",
    "d16_sql_scripting",
    "d01_parameterized_sql",
    "d27_kaplan_meier",
    "d18_business_days",
    "d22_sql_udf",
    "d09_pareto_abc",
    "d34_bpe_train",
    # round-7 additions, headlined from round 9 (VERDICT r8 ask #7): until
    # now these were sweep-only, so their first recorded numbers absorbed
    # session cold-start and polluted cross-round comparisons
    "d19_logsumexp",
    "d10_js_divergence",
    "d27_path_entropy",
    "d14_bollinger",
    "d09_hhi",
    "d10_modal_values",
    "d14_period_growth",
    "d02_temporal_split",
    "d33_regression_metrics",
    "d10_key_discovery",
    "d02_negative_downsample",
    "d17_jaro_winkler",
    "d30_recall_eval",
    "d30_ndcg_eval",
    "d30_embedding_audit",
    "d31_pii_scrub",
    "d34_vocab_coverage",
    "d34_loss_mask",
    "d35_zorder_interleave",
    "d33_calibration_ece",
    "d34_pack_attention_spans",
    "d35_stats_merge",
    # round-9 additions, headlined from round 10 (VERDICT r9 ask #3): same
    # lesson as the round-7 block above — sweep-only first numbers absorb
    # session cold-start and pollute cross-round comparisons.
    # d26_stream_session_window is the ONE deliberate exception to the
    # "multi-micro-batch queries are swept, not headlined" policy: its
    # 3-chunk availableNow run over static parquet is deterministic and
    # ~3.7 s cold (vs ~8 s for the TWS family), and the verdict asked for
    # all seven round-9 queries in the warm set; the timed runs measure the
    # same state-commit machinery each pass, so min-of-3 stays meaningful.
    "d10_wasserstein_drift",
    "d26_stream_session_window",
    "d27_retention_cohorts",
    "d31_perplexity_buckets",
    "d34_fim_transform",
    "d34_tokenizer_fertility",
    "d35_compaction_plan",
    # round-10 additions, headlined the round they land (no cold first
    # numbers in a later round — the standing r7/r9 lesson)
    "d10_cramers_v",
    "d10_stable_moments",
    "d27_interval_merge",
    "d29_shard_dup_matrix",
    "d34_seq_len_histogram",
    "d14_twap",
    "d14_winsorize",
    "d27_audience_overlap",
    "d34_soft_dedup_weights",
    # round-11 additions
    "d29_exact_substr",
    "d29_substr_span_drop",
    "d09_gini",
    "d14_rolling_corr",
    "d31_pmi_collocations",
    "d30_centroid_assign",
    "d27_user_lifecycle",
    "d14_drawdown",
    "d31_heaps_law",
    "d30_mrr_eval",
    "d29_lpa_communities",
    "d09_topk_share",
    # d14_kalman_1d is swept, not headlined — same policy as its sibling
    # d14_holt_linear: the per-series grouped-map loop is inherent
    # sequential-scan cost (~3.5 s at sf0.1), and a timed min-of-3 would
    # triple-pay it without measuring any plan change
    "d02_ab_assignment",
    # round-12 additions
    "d29_ppr_2iter",
    "d33_prefixspan_journeys",
    "d11_quantile_sketch_merge",
]


def _timed_passes(spark, qs, sf_dir: str) -> dict[str, float]:
    """Three timed passes in alternating order, so no query always runs
    right after the same neighbour; min seconds per query. A GC nudge
    before each run keeps one query's garbage out of the next one's time."""
    best = dict.fromkeys(HEADLINE, float("inf"))
    for order in (HEADLINE, HEADLINE[::-1], HEADLINE):
        for name in order:
            spark.sparkContext._jvm.System.gc()
            run = timed_run(spark, qs[name], sf_dir)
            best[name] = min(best[name], run["total"])
    return {name: round(t, 3) for name, t in best.items()}


def _emit(metric: str, total: float, timings: dict[str, float], extra: dict) -> dict:
    """Truncation-proof record: the driver tail-captures stdout, so a single
    multi-KB JSON line can lose its HEAD (BENCH_r04.json lost the total and
    ~40 queries that way). Emit the full per-query detail FIRST, then a
    compact summary (total + the 20 slowest queries, <1 KB) as the LAST
    stdout line — whatever the capture keeps, the summary line parses.
    Returns the detail record."""
    detail = {"metric": metric + "_detail", "value": total, "unit": "sec",
              "queries": timings, **extra}
    print(json.dumps(detail))
    # The FINAL stdout line must parse even when the driver keeps only the
    # last ~2000 bytes (BENCH_r10.json: the line's HEAD was cut,
    # parsed=null). If the line exceeds the budget, shrink the
    # slowest-queries list until it fits.
    LINE_BUDGET = 1800
    for n_slowest in (20, 10, 5, 0):
        slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:n_slowest])
        summary = {"metric": metric, "value": total, "unit": "sec",
                   "queries": slowest, "n_queries": len(timings),
                   "queries_note": f"{n_slowest} slowest; full detail on "
                                   "previous line and BENCHDETAIL.json",
                   **extra}
        line = json.dumps(summary)
        if len(line) <= LINE_BUDGET:
            break
    if len(line) > LINE_BUDGET:
        # terminal guarantee (ADVICE r11): another unbounded extra field can
        # keep the line over budget even at n_slowest=0 — drop everything
        # but the invariants rather than ever printing an unparseable-tail
        # line (the failure mode behind BENCH_r10's parsed:null)
        line = json.dumps({
            "metric": metric, "value": total, "unit": "sec",
            "n_queries": len(timings),
            "queries_note": "summary fields dropped (over line budget); "
                            "full detail on previous line and "
                            "BENCHDETAIL.json",
        })
    print(line)
    return detail


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="conceptnetwork-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # warm-up: run each query once, untimed, so JIT/codegen compilation and
    # first reads are excluded — timings reflect steady-state execution
    # (the number that matters for a long-lived cluster serving many queries)
    for name in HEADLINE:
        timed_run(spark, qs[name], sf_dir)

    # host-speed bracket, reported only: it rescales and gates nothing
    cal_before = calibrate()
    timings = _timed_passes(spark, qs, sf_dir)
    cal_after = calibrate()

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    detail = _emit(
        metric="headline_queries_total_wall_clock",
        total=total,
        timings=timings,
        extra={
            "sf": float(sf) if sf else None,
            "calibration_s": [round(cal_before, 4), round(cal_after, 4)],
        },
    )
    # the headline detail also lands as a FILE (VERDICT r6 ask #7): a
    # tail-capture of stdout truncates the multi-KB detail line as the query
    # count grows, so per-query visibility must not depend on stdout at all —
    # tools/roundclose.py snapshots this as BENCHDETAIL_r{N}.json
    with open(os.path.join(ROOT, "BENCHDETAIL.json"), "w") as f:
        json.dump(detail, f)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
