"""Generate PLANS.md: the formatted physical plan of every bench-tracked
query plus selected scale-critical operators, with a one-line audit of
the properties that matter at 100 TB (pushdown, broadcast, partial agg,
no Python in JVM paths).

Usage: python tools/dump_plans.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from distributed_map_reduce_spark import registry  # noqa: E402
from distributed_map_reduce_spark.session import get_spark  # noqa: E402

EXTRA = [
    "analytics_skyline_pareto",
    "pipeline_padding_waste_audit",
    "retrieval_hybrid_rrf",
    "retrieval_rocchio_prf",
    "stats_lorenz_deciles",
    "stats_pareto_abc",
    "stats_qini_uplift_deciles",
    "stats_rfm_migration",
    "stats_rfm_segmentation",
    "stats_sprt_sequential",
    "stats_wasserstein_1d",
    "stats_dunn_posthoc",
    "events_conversion_latency",
    "dedup_cc_clusters",
    "dedup_cluster_keeper",
    "events_markov_removal_attribution",
    "pipeline_quality_ablation_grid",
    "stats_weibull_fit",
    "multimodal_patch_budget",
    "privacy_synthetic_marginals",
    "similarity_mmd_drift",
    "sample_hoeffding_certificate",
    "stats_beta_binomial_shrinkage",
    "stats_event_study_leads_lags",
    "scan_filter_project",
    "asof_purchase_to_click",
    "agg_salted_skew",
    "sample_hash_deterministic",
    "pipeline_curate_corpus",
    "window_ranking",
    "text_tfidf_topterms",
    "text_winnowing_fingerprints",
    "ann_ivf_centroids",
    "sort_global",
    "q7_volume_shipping",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "q8_market_share",
    "q17_small_qty_revenue",
    "q21_waiting_supplier",
    "q22_dormant_customers",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "pipeline_pack_sequences",
    "temporal_gap_fill",
    "privacy_pii_redaction",
    "privacy_contamination_check",
    "profile_dataset_card",
    "profile_value_outliers",
    "temporal_scd2_history",
    "events_funnel_conversion",
    "pipeline_quality_decile_gate",
    "sketch_kmv_distinct",
    "sketch_kmv_set_ops",
    "sketch_countmin_heavy_hitters",
    "sketch_linear_counting",
    "dedup_duplicate_ngram_spans",
    "similarity_random_projection_audit",
    "sample_weighted_priority",
    "sample_reservoir_per_group",
    "ann_ivf_multiprobe",
    "similarity_pq_adc",
    "ann_kmeans_lloyd2",
    "multimodal_signature_neardup",
    "agg_exact_median_scalable",
    "stats_cusum_changepoint",
    "stats_bootstrap_poisson",
    "privacy_k_anonymity",
    "text_vocab_coverage",
    "pipeline_mixture_materialize",
    "mr_reduce_side_join",
    "join_dynamic_partition_prune",
    "geo_grid_knn_join",
    "er_record_linkage",
    "repair_median_impute",
    "audit_merkle_ranges",
    "snapshot_diff_audit",
    "dedup_edit_distance_block",
    "eval_rouge_ngram",
    "eval_bradley_terry",
    "sketch_ams_f2",
    "window_hampel_filter",
    "source_parquet_footer_stats",
    "stats_isotonic_calibration",
    "eval_auc_roc",
    "temporal_holt_smoothing",
    "hierarchy_subtree_rollup",
    "similarity_user_trajectory",
    "topk_incremental_maintenance",
    "temporal_m4_downsample",
    "stats_theil_sen_trend",
    "agg_bitmap_hierarchical_rollup",
    "temporal_interval_coalesce",
    "window_pattern_regex_funnel",
    "stats_mann_whitney_u",
    "privacy_l_diversity",
    "agg_higher_moments",
    "temporal_ewma_decay",
    "similarity_quantize_int8",
    "variant_nested_extract",
    "source_python_datasource",
    "join_lateral_topk",
    "sql_pipe_syntax",
    "text_rake_keywords",
    "events_sliding_distinct_users",
    "layout_zorder_tiles",
    "multimodal_shard_manifest",
    "pipeline_feature_scaling",
    "temporal_open_interval_count",
    "rollup_incremental_caggs",
    "stats_ks_test",
    "pipeline_chunk_documents",
    "profile_partition_skew",
    "events_attribution_linear",
    "agg_bitmap_distinct",
    "window_streak_islands",
    "graph_jaccard_neighbors",
    "sample_variance_quota",
    "temporal_seasonal_backtest",
    "window_cumsum_scalable",
    "dedup_prefix_filter_join",
    "temporal_time_weighted_avg",
    "graph_kcore",
    "window_time_range_frame",
    "profile_expectations",
    "events_user_ltv_cohort",
    "kv_secondary_index",
    "graph_clustering_coefficient",
    "graph_random_walk_sampling",
    "text_heaps_law",
    "multimodal_aspect_bucket",
    "pipeline_mlm_masking",
    "agg_weighted_percentile",
    "stats_shannon_entropy",
    "stats_two_proportion_ztest",
    "stats_srm_guardrail",
    "mr_matrix_multiply",
    "text_concordance_kwic",
    "temporal_business_day_lag",
    "privacy_erasure_cascade",
    "kv_ttl_expiry",
    "layout_zonemap_skipping",
    "multimodal_modality_balance",
    "profile_freshness_audit",
    "agg_listagg_within_group",
    "stats_correlation_matrix",
    "sink_python_datasource_writer",
    "stream_cdc_apply_changes",
    "udtf_table_argument",
    "eval_em_f1_scoring",
    "stats_cuped_adjustment",
    "pipeline_rlhf_pair_construction",
    "text_pmi_collocations",
    "temporal_allen_relations",
    "events_session_capped",
    "graph_adamic_adar",
    "analytics_mrr_movements",
    "stats_mann_kendall",
    "window_rolling_regression",
    "agg_grouping_id",
    "multimodal_caption_filter",
    "profile_join_fanout",
    "tpch_refresh_functions",
    "agg_ordered_set_aggs",
    "sql_lateral_column_alias",
    "pipeline_label_disagreement",
    "privacy_dp_quantile_expmech",
    "window_clamped_cumsum",
    "stats_erlang_c_staffing",
    "similarity_nearest_centroid_eval",
    "pipeline_conversation_assembly",
    "pipeline_url_canonical_dedup",
    "graph_hits_bipartite",
    "stats_kaplan_meier",
    "window_bollinger_bands",
    "sql_row_level_security",
    "kv_cas_conditional_update",
    "temporal_bitemporal_asof",
    "similarity_gram_matrix",
    "profile_clock_skew_audit",
    "window_max_drawdown",
    "stats_anova_oneway",
    "stats_benjamini_hochberg",
    "stats_permutation_test",
    "stats_jensen_shannon",
    "text_self_bleu_diversity",
    "temporal_calendar_proration",
    "privacy_contribution_capping",
    "stats_ols_two_feature",
    "stats_retention_decay_fit",
    "stats_extreme_value_gumbel",
    "multimodal_interleaved_assembly",
    "asof_arrow_grouped",
    "stats_bayes_ab_normal_approx",
    "stats_capture_recapture",
    "text_term_burst",
    "similarity_mmr_rerank",
    "sample_importance_reweight",
    "multimodal_audio_framing",
    "stats_krippendorff_alpha",
    "text_suffix_prefix_stitch",
    "stats_markov_absorption",
    "similarity_power_iteration_pca",
    "privacy_subject_access_export",
    "eval_calibration_brier",
    "stats_negbinom_overdispersion",
    "stats_experiment_duration",
    "stats_diff_in_diff",
    "text_code_detect",
    "stats_tost_equivalence",
    "profile_key_discovery",
    "stats_ratio_delta_method",
    "eval_rank_metrics_ndcg",
    "stats_mixture_em_gaussian",
    "graph_modularity_score",
    "text_bigram_perplexity",
    "kv_snapshot_read_asof",
    "join_hot_cold_split",
    "source_fixedwidth_parse",
    "stats_price_elasticity",
    "stats_hurst_rs",
    "pipeline_blocklist_filter",
    "privacy_t_closeness",
    "graph_degree_assortativity",
    "events_self_excitation",
    "stats_pettitt_changepoint",
    "stats_ewma_control_chart",
    "stats_kruskal_wallis",
    "stats_obf_group_sequential",
    "stats_meta_analysis_pooled",
    "stream_session_dynamic_gap_flush",
]


def audit(plan: str) -> list[str]:
    notes = []
    if "PushedFilters: [" in plan and "PushedFilters: []" not in plan:
        notes.append("filters pushed into scan")
    if "BroadcastHashJoin" in plan:
        notes.append("broadcast hash join (dim side)")
    if "SortMergeJoin" in plan:
        notes.append("sort-merge join (fact side)")
    if plan.count("HashAggregate") >= 2:
        notes.append("partial (map-side) + final aggregation")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k without global sort")
    if "rangepartitioning" in plan:
        notes.append("range-partitioned sort")
    if "EvalPython" in plan:
        notes.append("PYTHON IN PLAN (expected only for pandas-UDF operators)")
    else:
        notes.append("no Python — whole-stage codegen end to end")
    return notes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    spark = get_spark("dump_plans")
    qs = registry.all_queries()
    names = sorted(set(list(registry.bench_queries()) + EXTRA))
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py --sf {args.sf}`. Each plan",
        "is audited for the properties that matter at 100 TB.",
        "",
    ]
    for name in names:
        df = qs[name].fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().strip()
        out.append(f"## {name}")
        out.append("")
        out.append("Audit: " + "; ".join(audit(plan)) + ".")
        out.append("")
        out.append("```")
        # keep the tree, drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        out.append(tree)
        out.append("```")
        out.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(names)} plans)")


if __name__ == "__main__":
    main()
