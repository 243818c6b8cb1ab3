"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine code lives in ``nyc_taxi_data_warehouse_spark/``; this file only
wires the registry together.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (mart_trips_weather, J1+A2) on /root/testdata/sf0.001."""
    from nyc_taxi_data_warehouse_spark.queries_nyc import q_trips_weather

    return q_trips_weather(spark, "/root/testdata/sf0.001")


# The driver records CORRECTNESS rows for only the first 50 registry
# entries per round.  Rotate the window each round so evidence stays
# fresh.  Round-14 window (per the round-13 VERDICT item 2 + the
# standing priority first-evidence > stale-refresh > green tail):
#   * slots 1-8: the round-13 rewrites that shipped without a driver
#     row (q_hll_overlap, q_lsh_tuning, q_quantile_summary,
#     q_concurrency, q_ngram_jaccard, q_containment,
#     q_incremental_neardup, q_neardup_store_roundtrip — the exact
#     list the verdict names);
#   * slots 9-13: the five reference-surface flagships, refreshed in
#     round 12 and due this round under the <=2-round policy;
#   * slots 14-25: the round-14 optimization touch set (array_lit
#     literal build: q_ivfpq_search/q_pq_search/q_kmeans_cells/
#     q_srp_lsh/q_ann_index_persist; cached-plan AQE + store paths:
#     q_minhash_lsh/q_dedup_cluster/q_cluster_split/
#     q_neardup_store_bucketed/q_store_time_travel/
#     q_stream_ingest_dedup; salted broadcast: q_skew_join) — the
#     evidence-can't-outrun-code rule puts driver rows on this
#     round's rewrites;
#   * slots 26-50: the 25 stalest round-7 entries (head of the old
#     _CHECK_LAST, q_dsir_select .. q_tpch_q16).
# _CHECK_LAST holds everything else stalest-first: the remaining
# round-7/8 entries, then progressively fresher evidence, with the
# round-13 window (the freshest driver rows) at the tail.  New
# queries added mid-round join _CHECK_FIRST as first-evidence
# candidates.  tests/test_registry.py pins the bookkeeping.
_CHECK_FIRST = [
    "q_hll_overlap", "q_lsh_tuning", "q_quantile_summary", "q_concurrency",
    "q_ngram_jaccard", "q_containment", "q_incremental_neardup",
    "q_neardup_store_roundtrip", "q_enrich", "q_trips_weather", "q_daily",
    "q_zone_analysis", "q_fare_daily_features", "q_ivfpq_search",
    "q_pq_search", "q_kmeans_cells", "q_srp_lsh", "q_minhash_lsh",
    "q_dedup_cluster", "q_cluster_split", "q_neardup_store_bucketed",
    "q_store_time_travel", "q_stream_ingest_dedup", "q_skew_join",
    "q_ann_index_persist", "q_dsir_select", "q_gopher_rules", "q_hll_distinct",
    "q_hll_union", "q_k_anonymity", "q_ks_drift", "q_l_diversity",
    "q_mixture_plan", "q_project", "q_semdedup", "q_stream_cm", "q_stream_hll",
    "q_stream_hourly", "q_stream_join", "q_stream_psi", "q_stream_sessions",
    "q_top1", "q_tpch_q1", "q_tpch_q10", "q_tpch_q11", "q_tpch_q12",
    "q_tpch_q13", "q_tpch_q14", "q_tpch_q15", "q_tpch_q16",
]
_CHECK_LAST = [
    "q_tpch_q17", "q_tpch_q18", "q_tpch_q19", "q_tpch_q2", "q_tpch_q20",
    "q_tpch_q21", "q_tpch_q22", "q_tpch_q3", "q_tpch_q4", "q_tpch_q5",
    "q_tpch_q6", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_ab_test",
    "q_autocorrelation", "q_benford", "q_bloom_portable", "q_bootstrap_ci",
    "q_cdc_chunking", "q_cohort_ltv", "q_crosscorrelation",
    "q_cumulative_distinct", "q_dp_budget", "q_embedding_drift",
    "q_ewma_anomaly", "q_gini", "q_graph_degree", "q_grouping_sets",
    "q_heatmap", "q_histogram_quantiles", "q_kmv_distinct", "q_kmv_jaccard",
    "q_markov_transitions", "q_mg_topk", "q_microagg", "q_new_vs_returning",
    "q_pareto_share", "q_pca_power", "q_phrase_search", "q_power_analysis",
    "q_rank_functions", "q_rfm_segments", "q_rrf_fusion", "q_seasonal_anomaly",
    "q_seasonal_decompose", "q_set_ops", "q_shortest_path", "q_skyline",
    "q_sliding_distinct", "q_split_leakage", "q_stickiness", "q_stream_bloom",
    "q_stream_kmins", "q_stream_ohlc", "q_stream_sliding", "q_t_closeness",
    "q_time_to_convert", "q_trend_ols", "q_tukey_outliers",
    "q_watermark_audit", "q_weighted_median", "q_zipf_fit", "q_market_basket",
    "q_mixture_temperature", "q_key_skew", "q_ohlc_bars", "q_attribution",
    "q_cusum_changepoint", "q_entity_resolution", "q_frequent_sequences",
    "q_stream_cusum", "q_gaps_islands", "q_compaction_plan", "q_bh_fdr",
    "q_mannwhitney", "q_slo_burn", "q_calibration", "q_boilerplate_scrub",
    "q_dup_span_removal", "q_encoding_advisor", "q_matryoshka_recall",
    "q_spearman", "q_anomaly_mad", "q_bpe_merges", "q_bpe_tokenize",
    "q_cdc_classify", "q_cross_corpus_neardup", "q_crosstab_independence",
    "q_dedup_plan", "q_delta_roundtrip", "q_demand_corr", "q_dropna",
    "q_embedding_stats", "q_event_paths", "q_iceberg_diff",
    "q_iceberg_roundtrip", "q_langid_eval", "q_limit", "q_lsh_hot_buckets",
    "q_lsh_recall", "q_minmax", "q_normalize_dedup", "q_orc_roundtrip",
    "q_pagerank_zones", "q_roc_auc", "q_pr_curve", "q_lift_table",
    "q_ndcg_mrr", "q_knn_classify", "q_kruskal_wallis", "q_kendall_tau",
    "q_theil_sen", "q_survival_km", "q_fk_audit", "q_partition_advisor",
    "q_zorder_effect", "q_vacuum_plan", "q_bloom_sizing", "q_pseudonymize",
    "q_dp_histogram", "q_rtbf_plan", "q_kcore", "q_asof_multi",
    "q_priority_sample", "q_target_encode", "q_isotonic_calibration",
    "q_interpolate", "q_sax_symbols", "q_mmr_rerank", "q_cv_auc",
    "q_quantile_normalize", "q_changepoint_binseg", "q_simpson_trends",
    "q_stream_asof", "q_pq_codebook", "q_pq_recall", "q_preference_pairs",
    "q_rolling_median", "q_semi_join", "q_shard_checksums", "q_simhash",
    "q_simhash_near", "q_snapshot_diff", "q_triangle_count", "q_variant_json",
    "q_zorder_cells", "q_asof_join", "q_backfill_synthetic",
    "q_ann_index_append", "q_cdc_apply", "q_anova_f", "q_rake_keywords",
    "q_clustering_depth", "q_window_funnel", "q_label_propagation",
    "q_schema_evolution", "q_stream_mg_topk", "q_weather_hourly",
    "q_bloom_join", "q_bm25", "q_cell_quality", "q_chunk_docs",
    "q_conversion_funnel", "q_cube", "q_dedup_keep_best",
    "q_dup_ngram_coverage", "q_embedding_neardup", "q_embedding_quantize",
    "q_filter_funnel", "q_fingerprint", "q_freshness", "q_gapfill",
    "q_incremental_agg", "q_inverted_index", "q_knn_bruteforce", "q_lang_id",
    "q_length_histogram", "q_merge_upsert", "q_mixture_sample",
    "q_negative_samples", "q_pack_sequences", "q_percentiles_approx", "q_pmi",
    "q_prefix_filter_pairs", "q_quality_report", "q_repetition",
    "q_retention_cohort", "q_sessions", "q_skew_agg", "q_source_overlap",
    "q_welch_ttest", "q_permutation_test", "q_diff_in_diff", "q_ips_eval",
    "q_morans_i", "q_getis_ord", "q_link_prediction", "q_item_cf",
    "q_pii_scan", "q_stream_histogram", "q_mcnemar", "q_wilcoxon_signed_rank",
    "q_stream_cdc", "q_consistent_hash", "q_feature_hash_audit",
    "q_gdpr_export", "q_time_decay", "q_graph_modularity", "q_sparse_cosine",
    "q_split_assign", "q_srp_near_pairs", "q_star_join", "q_text_quality",
    "q_token_count", "q_topk_per_group", "q_weighted_sample", "q_winsorize",
    "q_antijoin", "q_cc_two_phase", "q_curation_pipeline", "q_decontaminate",
    "q_dedup_exact", "q_dup_rate_by_source", "q_edit_distance",
    "q_epoch_shuffle", "q_eval_metrics", "q_feature_binning",
    "q_forecast_eval", "q_frame_sample", "q_global_index", "q_interval_join",
    "q_ivfpq_multiprobe", "q_levene", "q_cuped", "q_sprt",
    "q_shapley_attribution", "q_hilbert_cells", "q_holt_linear", "q_dbscan",
    "q_att_stratified", "q_closeness_centrality", "q_tokenizer_fertility",
    "q_ivfpq_recall", "q_json_extract", "q_lag_ma", "q_lm_score",
    "q_merge_dedup", "q_multimodal_features", "q_percentiles", "q_pivot",
    "q_precip_day", "q_profile_columns", "q_psi_drift", "q_quality_model",
    "q_rollup", "q_sample_hash", "q_sample_stratified", "q_scd2_check",
    "q_scd2_timestamp", "q_stg_trips", "q_stg_weather", "q_stream_dedup",
    "q_surrogate_key", "q_text_scrub", "q_top_terms", "q_union_summary",
    "q_window_stats", "q_zone_demand", "q_zone_dim", "q_ann_ivf",
    "q_ann_recall", "q_array_ops", "q_boilerplate", "q_centroid_assign",
    "q_char_entropy", "q_cm_join_size", "q_countmin_topk", "q_distinct_hours",
    "q_divergence_drift",
]


def _ordered(d: dict) -> dict:
    mid = [k for k in d if k not in _CHECK_FIRST and k not in _CHECK_LAST]
    keys = [k for k in _CHECK_FIRST if k in d] + mid + [
        k for k in _CHECK_LAST if k in d
    ]
    return {k: d[k] for k in keys}


_QUERY_MODULES = ("nyc", "data", "tpch", "mining", "eval")


def _merged(attr: str) -> dict:
    """Union of ``attr`` over the five query modules, in registry order.
    Every module is required: an import error propagates instead of
    silently dropping that module's queries."""
    import importlib

    out: dict = {}
    for mod in _QUERY_MODULES:
        m = importlib.import_module(f"nyc_taxi_data_warehouse_spark.queries_{mod}")
        out.update(getattr(m, attr))
    return _ordered(out)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data-pipeline wave). Each callable: (spark, sf_dir) → DataFrame."""
    return _merged("QUERIES")


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for each query (tables pre-registered as views)."""
    return _merged("ORACLES")
