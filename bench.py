#!/usr/bin/env python
"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints per-query wall-clock seconds: a full-detail JSON line followed by
a compact (<1 KB) summary JSON line LAST, so a tail-capture that truncates
long lines always retains a parseable record (see _emit).

Each query is fully materialized via a count() on the final plan (no
collect of payload rows to the driver). A warm-up scan primes the JVM and
file cache so numbers reflect steady-state execution, not session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from conceptnetwork_spark import get_spark, registry  # noqa: E402

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


CALIBRATION_KIND = "numpy_matmul_1500_median5"


def _calibrate(spark) -> float:
    """Fixed micro-calibration probe measuring HOST state so cross-round
    per-query deltas are attributable — three rounds of +5% headline creep
    (63.8 -> 70.2 -> 74.4 s) were otherwise unattributable between host
    variance and real drift (VERDICT r8 ask #6). A dense 1500x1500 matmul,
    median of 5 after two warm-ups: measured 0.8% run-to-run on an idle
    host, 14x inflated under the contention event the r9 close caught. A
    Spark-job calibrator was tried first and rejected — any spark.range
    aggregate is dominated by the ~0.2 s job-scheduling floor (±50 ms
    noise regardless of row count, measured 10M-400M rows), making the
    probe itself ±30% noisy. `spark` is accepted for signature stability.

    The probe is a COMPARABILITY GATE, not a divisor: a 1-thread probe
    over-reacts to partial load relative to 32-way query stages (measured:
    probe 14x vs queries 1.55x under the same contention), and a 32-way
    probe is ±40% noisy even idle, so no single scalar can rescale a
    loaded run onto an idle one. _host_normalized_flags therefore only
    compares runs whose calibrations AGREE (both idle or equally loaded)
    and declares the comparison unreliable otherwise."""
    import statistics

    import numpy as np

    a = np.full((1500, 1500), 1.0001)

    def run() -> float:
        t0 = time.perf_counter()
        _ = a @ a
        return time.perf_counter() - t0

    run(), run()  # page-in + BLAS thread-pool warm-up, untimed
    return round(statistics.median(run() for _ in range(5)), 4)


def _timed_pass(spark, qs, sf_dir: str) -> dict[str, float]:
    """Measured pass: three timed runs per query, min reported — a single GC
    pause or OS scheduling blip otherwise lands in one query's number and
    dominates the total (observed 10x outliers on individual runs; round-1
    driver bench recorded 7-75 s for queries that measure <1.6 s on an
    idle host, so the measurement must survive a loaded host). A GC nudge
    between queries keeps one query's garbage out of the next's timing."""
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        spark.sparkContext._jvm.System.gc()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    return timings


def _host_normalized_flags(
    timings: dict[str, float], calibration_sec: float
) -> dict:
    """Compare this run against the newest same-kind BENCHDETAIL_r{N}.json
    snapshot. If the two calibrations agree within 25% (same host state —
    both idle, in practice), per-query ratios are directly comparable and
    anything >1.3x is flagged as real drift (plan change, new shuffle,
    lost broadcast). If the calibrations DISAGREE, the host states differ
    and no scalar can rescale one onto the other (a 1-thread probe and a
    32-way stage respond differently to partial load), so the comparison
    is declared unreliable instead of producing mis-scaled flags."""
    import glob

    root = os.path.dirname(os.path.abspath(__file__))
    snaps = sorted(glob.glob(os.path.join(root, "BENCHDETAIL_r*.json")))
    baseline = None
    for p in reversed(snaps):
        try:
            with open(p) as f:
                cand = json.load(f)
            # only snapshots taken with the SAME calibration workload are
            # comparable (the r9 Spark-job calibrator was ±30% noisy and
            # its values must never normalize a matmul-calibrated run)
            if cand.get("calibration_sec") and (
                cand.get("calibration_kind") == CALIBRATION_KIND
            ):
                baseline = (os.path.basename(p), cand)
                break
        except (OSError, json.JSONDecodeError):
            continue
    if baseline is None:
        return {"vs": None, "note": "no prior snapshot with calibration_sec"}
    name, prev = baseline
    prev_cal = prev["calibration_sec"]
    cal_ratio = round(calibration_sec / prev_cal, 3)
    if not (1 / 1.25 <= cal_ratio <= 1.25):
        return {
            "vs": name,
            "host_speed_ratio": cal_ratio,
            "note": "host states differ (calibrations disagree >25%); "
            "per-query comparison unreliable — re-measure idle",
        }
    flags = {}
    for q, t in timings.items():
        pt = prev.get("queries", {}).get(q)
        if not pt or pt <= 0 or t <= 0:
            continue
        ratio = round(t / pt, 3)
        if ratio > 1.3:
            flags[q] = ratio
    return {"vs": name, "host_speed_ratio": cal_ratio,
            "flagged_over_1.3x": flags}


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
    # last ~2000 bytes (BENCH_r10.json: the flagged_over_1.3x dict grew past
    # the tail window, the line's HEAD was cut, parsed=null). Hard-cap every
    # unbounded dict and, if the line still exceeds the budget, shrink the
    # slowest-queries list until it fits.
    LINE_BUDGET = 1800
    extra = dict(extra)
    hn = extra.get("host_normalized")
    if isinstance(hn, dict) and isinstance(hn.get("flagged_over_1.3x"), dict):
        flags = hn["flagged_over_1.3x"]
        worst = dict(sorted(flags.items(), key=lambda kv: -kv[1])[:8])
        extra["host_normalized"] = {**hn, "flagged_over_1.3x": worst,
                                    "n_flagged": len(flags)}
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

    # warm-up: prime OS file cache, then run each query once so JIT/codegen
    # compilation is excluded — timings reflect steady-state execution (the
    # number that matters for a long-lived cluster serving many queries)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    for name in HEADLINE:
        qs[name](spark, sf_dir).count()

    calibration_sec = _calibrate(spark)
    timings = _timed_pass(spark, qs, sf_dir)

    # Calibration-retry gate (VERDICT r12 ask #2): the r12 driver run landed
    # on a host ~5-8x slower than the committed snapshot and its numbers
    # invalidated the whole round's perf comparison. When THIS run's
    # calibration says the host is >25% SLOWER than the committed
    # BENCHDETAIL baseline (contention — the only direction a retry can
    # fix; a host FASTER than baseline is the better ground truth), retry
    # up to 2 times. Each retry first re-runs only the CHEAP calibration
    # probe (after a short back-off so a transient episode can pass) and
    # re-runs the expensive timed pass only once the host has actually
    # recovered (probe agrees with baseline, or improved >=30%) — burning
    # a full pass measuring the same contention tells us nothing and
    # triples the bench wall-clock inside the driver's window. Whichever
    # (calibration, timings) attempt saw the best host state is emitted,
    # stamped with calibration_retries.
    calibration_retries = 0
    hn = _host_normalized_flags(timings, calibration_sec)
    while (
        calibration_retries < 2
        and hn.get("host_speed_ratio", 0) > 1.25
        and "unreliable" in hn.get("note", "")
    ):
        calibration_retries += 1
        time.sleep(15 * calibration_retries)
        cal2 = _calibrate(spark)
        recovered = (
            "unreliable"
            not in _host_normalized_flags(timings, cal2).get("note", "")
            or cal2 < calibration_sec * 0.7
        )
        if recovered:
            timings2 = _timed_pass(spark, qs, sf_dir)
            # adopt the (calibration, timings) PAIR only together — a
            # better probe stapled to the contended pass would misstate
            # the host state the timings were taken in
            if cal2 < calibration_sec:
                calibration_sec, timings = cal2, timings2
            hn = _host_normalized_flags(timings, calibration_sec)
            # one re-timed pass is the budget: a full pass is ~5 min of
            # the driver's window, and the third-best of three host
            # states adds no attribution value (measured: 2 re-passes
            # pushed the sf0.001 smoke past 20 min)
            break
        hn = _host_normalized_flags(timings, calibration_sec)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    detail = _emit(
        metric="headline_queries_total_wall_clock",
        total=total,
        timings=timings,
        extra={
            "sf": float(sf) if sf else None,
            "calibration_sec": calibration_sec,
            "calibration_kind": CALIBRATION_KIND,
            "calibration_retries": calibration_retries,
            "host_normalized": hn,
        },
    )
    # the headline detail also lands as a FILE (VERDICT r6 ask #7): a
    # tail-capture of stdout truncates the multi-KB detail line as the query
    # count grows, so per-query visibility must not depend on stdout at all —
    # tools/roundclose.py snapshots this as BENCHDETAIL_r{N}.json
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCHDETAIL.json"), "w") as f:
        json.dump(detail, f)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
