"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is measured with the noop sink (full plan execution, no
driver-side collect), which is the honest cluster-shaped metric.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family, weighted toward the heavy
# shapes (agg, star join, windows, as-of, band join, LSH dedup, cosine).
HEADLINE = [
    "stream_replay",
    "delta_scan",
    "latest_state",
    "sessionize",
    "tpch_q1_pricing_summary",
    "revenue_by_region",
    "order_window_funcs",
    "asof_click_purchase",
    "range_join_order_lineitem_7d",
    "top_orders_per_priority",
    "exact_dedup",
    "minhash_near_dedup",
    "simhash_fingerprints",
    "similarity_topk",
    "text_stats",
    "word_count",
    "cube_order_stats",
    "embedding_near_dup",
    "multimodal_features",
    "term_scores_topk",
    "session_window_stats_batch",
    "protocol_server_log",
    "protocol_deliveries",
    "multigrain_rollup",
    "dataset_mix",
    "doc_chunks",
    "lsh_banded_near_dup",
    "tpch_q3_shipping_priority",
    "tpch_q17_small_qty_revenue",
    "curate_corpus",
    "tpch_q5_local_supplier_volume",
    "tpch_q13_custdist",
    "tpch_q18_large_orders",
    "dedup_clusters",
    "funnel_view_click_purchase",
    "retention_cohorts",
    "bigram_topk",
    "embedding_quantize",
    "tpch_q9_profit_proxy",
    "event_transitions",
    "pq_adc_topk",
    "hll_segment_customers",
    "tpch_q21_waiting_suppliers",
    "duplicated_spans",
    "max_concurrent_sessions",
    "nation_pagerank",
    "weighted_sample_lineitems",
    "cdc_apply_snapshot",
    "cms_token_counts",
    "ngram_novelty",
    "robust_outliers",
    "session_paths_topk",
    "unigram_fluency_topk",
    "attribution_by_channel",
    "incremental_sessionize",
    "asof_nearest_click_error",
    "daily_user_accounting",
    "column_profile_orders",
    "trending_event_types",
    "conversion_latency_percentiles",
    "pareto_user_concentration",
    "weekly_lifecycle",
    "revenue_mom_growth",
    "knn_label_vote",
    "key_skew_report",
    "seasonal_decompose_hourly",
    "frequent_triples",
    "source_token_cosine",
    "benford_price_audit",
    "cuped_adjusted_lift",
    "rolling_active_users_7d",
    "holt_winters_forecast",
    "kaplan_meier_sessions",
    "rrf_fused_topk",
    "quantile_normalize_orders",
    "haar_hourly_pyramid",
    "bloom_filter_fp_audit",
    "daily_table_checksums",
    "skyline_parts",
    "leakage_safe_split",
    "cep_clean_conversions",
    "similar_day_pairs",
    "fd_violation_audit",
    "equi_depth_boundaries",
    "shingle_containment_pairs",
    "hourly_peaks",
    "kaplan_meier_by_entry_type",
    "revenue_share_hierarchy",
    "srm_check",
    "er_sorted_neighborhood_pairs",
    "vocab_drift_topk",
    "linenumber_gap_audit",
    "dedup_savings_by_source",
    "simhash_eval_report",
    "copurchase_assortativity",
    "burstiness_by_type",
    "nation_personalized_pagerank",
    "fair_topk_docs",
    "dedup_cluster_size_histogram",
    "nation_harmonic_centrality",
    # round 3
    "multimodal_png_decode",
    "lsh_band_signatures",
    "ivf_probe_all_topk",
    "connects",
    "gopher_quality_flags",
    "hard_negatives_topk",
    "semdedup_prune",
    "label_centroid_outliers",
    "bloom_membership_report",
    "bpe_merge_candidates",
    "multimodal_wav_decode",
    "incremental_minhash_dedup",
    "curate_corpus_semantic",
    "interval_align_activity_band",
    "temperature_mix_summary",
    "knn_graph_within_label",
    "contrastive_triplets",
    "cross_source_dup_matrix",
    "prefix_jaccard_join",
    # round 3 continuation
    "heavy_hitter_words",
    "hybrid_rrf_search",
    "kmeans_fixed_point",
    "changepoint_candidates",
    "recency_weighted_activity",
    "er_golden_parts",
    "mmr_diversified_topk",
    "survival_table",
    "trend_slopes_by_type",
    "pearson_qty_price",
    "gini_by_segment",
    "ab_test_chi_square",
    "weighted_median_price",
    "autocorr_lag1_by_type",
    "winnowing_digests",
    "winnowing_candidate_pairs",
    "ivf_fixed_topk",
    "pq_fixed_adc_topk",
    "dsir_importance_scores",
    "sequential_pair_support",
    "principal_direction",
    "lineitem_storage_report",
    "ann_quality_report",
    "ab_test_mann_whitney",
    "minhash_calibration_report",
    "basket_pair_rules",
    "bigram_lm_fluency_topk",
    "bootstrap_revenue_ci",
    "ewma_hourly_rates",
    "incremental_join_merge",
    "theil_sen_daily_trend",
    "conformal_interval_report",
    "cusum_rate_alerts",
    "rfm_segments",
    "decile_lift_table",
    "roc_auc_by_segment",
    "lorenz_curve_percentiles",
    "global_value_percentiles",
    "holt_trend_forecast",
    "position_attribution",
    # round 4
    "strip_duplicated_spans",
    "pii_redaction_report",
    # round 5
    "url_canonical_dedup",
    "hashed_linear_quality",
    "quality_filter_with_exploration",
    "image_ahash_neardup",
    "audio_envelope_neardup",
    "video_scene_changes",
    "image_resize_roundtrip",
    "video_keyframe_sample",
    # round 6
    "approx_stats",
    "embedding_near_dup_capped",
    "vocab_coverage",
    "kmv_setops_report",
    "cluster_balanced_sample",
    "kcore_peel_trajectory",
    "semantic_decontaminate",
    "bpe_train_steps",
    "jl_projection_audit",
    "matryoshka_recall_report",
    "bpe_fertility_report",
    "classifier_calibration_report",
    "link_prediction_ra_topk",
    "deterministic_walk_paths",
    "aqp_sample_estimates",
    "substring_dedup_runs",
    "substring_dedup_coverage",
    "substring_dedup_strip_report",
    "substring_dedup_apply",
    "substring_self_runs",
    "substring_self_apply",
    "bpe_encode_report",
    "substring_apply_audit",
    "curate_corpus_substring",
    "substring_apply_round2",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from goeventstream_spark import get_spark
    from goeventstream_spark import queries as q
    q.load_registry()

    spark = get_spark(app_name="goeventstream_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths once on the bench dataset itself so
    # per-query numbers measure the plan, not first-call JIT (and the
    # harness has no hidden dependency on any other sf dir existing).
    q.QUERIES["tpch_q1_pricing_summary"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    # min of three reps: the first execution pays one-off JIT/codegen
    # compilation that a long-running cluster amortizes away, and the
    # shared host shows multi-x ambient-load spikes (measured: the same
    # query 1.2s vs 12.7s minutes apart) — min-of-3 is the honest
    # steady-state plan cost under both effects.
    # dict.fromkeys: the HEADLINE list accreted two duplicate entries
    # across rounds; each name must be measured exactly once.
    names = list(dict.fromkeys(sys.argv[1:] or HEADLINE))
    timings: dict[str, float] = {}

    for name in names:
        fn = q.QUERIES[name]
        best = float("inf")
        for _rep in range(3):
            t0 = time.perf_counter()  # monotonic: immune to NTP steps
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    # Durable copy: the driver captures stdout, but round 3's captured
    # artifact was truncated mid-JSON — also write the full line to a
    # file so the bench result is always recoverable from the repo.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path is None and not sys.argv[1:]:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
    if out_path:
        with open(out_path, "w") as f:
            f.write(payload + "\n")
    print(payload)


if __name__ == "__main__":
    main()
