"""Graded-query registry — the bridge to the driver contract.

Every operator from SURVEY.md §2 that is *done* has exactly one entry here:
a named query callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are SQL-expressible, the equivalent DuckDB oracle SQL
(``__spark_entry__.queries()`` / ``oracle_sql()`` read this registry).

Conventions enforced by the decorator contract:

* every computed/aggregate column is aliased identically in the Spark query
  and the oracle SQL (the driver sorts columns by name before hashing);
* float aggregates are rounded (2dp unless noted) on BOTH sides — double
  summation order differs across engines/partitionings (SURVEY §7.4.3);
* timestamp outputs are rendered to strings or epoch integers — never raw
  timestamp objects — to dodge tz/precision representation drift;
* ``oracle=None`` marks a deliberately rows-only operator (approx sketches,
  LSH, sampling) per the driver's weaker check;
* NO raw ``array<…>``/``map<…>`` output columns — the driver canonicalizer
  sorts the pandas frame before hashing and crashes on ndarray/dict cells
  (``TypeError: unhashable type`` — CORRECTNESS_r04 ``func_array4``).
  Join array outputs to strings on both engines: Spark
  ``array_join(transform(L, v -> cast(v as string)), ':')`` /
  DuckDB ``array_to_string(list_transform(L, x -> CAST(x AS VARCHAR)), ':')``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class GradedQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    section: str  # SURVEY.md §2 row ids, e.g. "B1,B3"
    description: str


_REGISTRY: dict[str, GradedQuery] = {}


def graded(
    name: str,
    oracle: str | None = None,
    section: str = "",
    description: str = "",
) -> Callable:
    """Register a graded query.  Use as a decorator on the query callable."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate graded query {name!r}")
        _REGISTRY[name] = GradedQuery(name, fn, oracle, section, description)
        return fn

    return deco


# Driver-evidence bookkeeping.  ``_DRIVER_VERIFIED_ROUND`` maps every name
# that has a green row in some driver CORRECTNESS_r{NN}.json to the LATEST
# round that graded it (hash-green, or rows-only-by-design with spark_rows
# recorded).  The driver grades the first 50 entries of ``queries()`` in
# dict order per round, so ``all_graded()`` orders:
#
#   1. never-driver-graded oracle-checked names (newest work grades the
#      same round it lands),
#   2. never-driver-graded locally-verified names (local full-gate green,
#      no driver row yet),
#   3. never-driver-graded rows-only names,
#   4. driver-verified names, OLDEST evidence round first.
#
# Buckets 1-3 drained to zero in round 8 (cumulative 344/344); bucket 4 is
# the EVIDENCE-FRESHNESS policy the round-8 judge prescribed: with no
# verification debt left, each window re-grades the names whose driver
# evidence is stalest (the r02 cohort had not been driver-re-checked in 7
# rounds of code motion), so no name's evidence ages more than ~4 rounds.
# If a driver round flags a name, DELETE its entry so it re-surfaces in
# bucket 1.  Regenerate with tools/rotate_driver_verified.py.
_DRIVER_VERIFIED_ROUND: dict[str, int] = {
    "a_csv_roundtrip_read": 8,
    "a_jsonl_roundtrip_read": 10,
    "a_partition_pruned_read": 8,
    "a_schema_evolution_read": 7,
    "abtest_cuped": 11,
    "abtest_mann_whitney": 12,
    "abtest_poisson_bootstrap": 12,
    "abtest_ratio_bootstrap": 12,
    "abtest_two_proportion": 11,
    "abtest_welch_t": 11,
    "activity_heatmap": 7,
    "agg_approx_count_distinct": 9,
    "agg_approx_percentile": 10,
    "agg_argminmax": 11,
    "agg_bitwise": 13,
    "agg_collect_sorted": 10,
    "agg_corr_exact": 11,
    "agg_count_distinct": 9,
    "agg_cube": 10,
    "agg_distinct": 9,
    "agg_gini_exact": 11,
    "agg_heavy_hitters": 11,
    "agg_kth_smallest": 12,
    "agg_mode_exact": 11,
    "agg_moments_exact": 9,
    "agg_percentiles": 9,
    "agg_pivot": 10,
    "agg_predicate_family": 11,
    "agg_rollup": 10,
    "agg_stats": 9,
    "agg_trimmed_mean": 11,
    "agg_unpivot": 10,
    "agg_weighted_median": 10,
    "agg_weighted_quantiles": 11,
    "alloc_largest_remainder": 7,
    "anomaly_mad_outliers": 11,
    "anomaly_rolling_zscore": 7,
    "attribution_first_touch": 7,
    "attribution_linear": 7,
    "b7_null_3vl_composite": 10,
    "basket_lift_pairs": 11,
    "basket_lift_weekly": 11,
    "basket_rules": 12,
    "behavior_activity_streaks": 12,
    "behavior_markov_entropy": 13,
    "behavior_markov_stationary": 12,
    "behavior_session_pmi": 13,
    "bpe_encode_corpus": 14,
    "bpe_merge_rounds": 14,
    "bpe_pair_counts": 14,
    "bpe_tokens_by_source": 14,
    "c15b_collect_entries_map": 10,
    "c3b_distinct_pairs_daily": 10,
    "cdc_snapshot_diff": 7,
    "cdc_table_checksum": 7,
    "changepoint_cusum": 11,
    "chunk_reassembly": 14,
    "cms_string_key_counts": 13,
    "cms_user_event_counts": 10,
    "cms_windowed_merge": 14,
    "cohort_retention": 7,
    "cohort_retention_monthly": 7,
    "corpus_zipf_slope": 12,
    "cross_lang_source_grid": 8,
    "crosstab_cramers_v": 11,
    "decay_score_asof": 7,
    "distinct_event_days": 8,
    "dlq_reject_reasons": 8,
    "dq_violation_report": 7,
    "drift_benford_profile": 11,
    "drift_ks_two_sample": 11,
    "drift_psi_value": 11,
    "drift_wasserstein": 12,
    "e2b_sliding_top_type": 9,
    "e2c_sliding_revenue": 10,
    "e2d_sliding_reach_auto": 11,
    "e2e_sliding_reach_hll": 11,
    "e2f_sliding_type_reach_hll": 12,
    "e2g_sliding_unicode_reach_hll": 13,
    "e2h_sliding_unaligned_reach_hll": 13,
    "e2i_sliding_hll_with_aggs": 13,
    "e2j_sliding_hll_null_keys": 14,
    "e6b_band_enrichment": 9,
    "epoch_shuffle_order": 7,
    "eval_auc_rank": 8,
    "f10_corpus_profile": 14,
    "f11_quality_filter": 14,
    "f11b_gopher_ratios": 14,
    "f12_multimodal_features": 10,
    "f12b_frame_sample": 8,
    "f12c_media_stats": 8,
    "f12d_audio_frames": 8,
    "f12e_audio_spectral": 8,
    "f12f_mel_filterbank": 8,
    "f12g_header_probe": 9,
    "f13_label_centroids": 14,
    "f13_normalize": 14,
    "f15_curation_pipeline": 14,
    "f16_training_mixture": 14,
    "f17_sequence_packing": 14,
    "f1_exact_dedup": 13,
    "f21b_topk_int8_exact": 11,
    "f22b_contamination_approx": 8,
    "f23_repetition_profile": 7,
    "f24_span_dedup": 7,
    "f25_pii_scrub": 7,
    "f26_domain_profile": 7,
    "f27_shard_balance": 7,
    "f28_price_histogram": 7,
    "f29_train_val_test_split": 13,
    "f2_embedding_neardup": 14,
    "f2_jaccard_pairs": 13,
    "f2_minhash_lsh": 10,
    "f2_minhash_lsh_tuned": 10,
    "f2_simhash": 10,
    "f2b_simhash_exact": 10,
    "f2c_minhash_exact": 10,
    "f30_label_balanced_sample": 13,
    "f31_neardup_degree_profile": 7,
    "f32_quality_weighted_keep": 7,
    "f33_dedup_survivor_pick": 7,
    "f34_bloom_prefilter_dedup": 13,
    "f36_token_entropy": 14,
    "f37_containment_pairs": 13,
    "f38_unigram_surprisal": 14,
    "f39_prefix_filter_jaccard": 13,
    "f3_cosine_label_matrix": 9,
    "f3_cosine_pairs": 13,
    "f3_cosine_threshold_graph": 9,
    "f40_matryoshka_recall": 14,
    "f41_rrf_fusion": 14,
    "f42_doc_chunking": 14,
    "f43_bm25_topk": 8,
    "f44_inverted_index": 8,
    "f45_chi2_token_label": 8,
    "f46_pmi_token_pairs": 8,
    "f47_js_divergence_sources": 8,
    "f48_quantile_normalize": 7,
    "f49_mmr_rerank": 10,
    "f49b_mmr_exact": 11,
    "f4_topk_cosine": 14,
    "f4_topk_ivf": 10,
    "f4_topk_ivf_auto": 10,
    "f4_topk_lsh": 10,
    "f4_topk_numpy": 13,
    "f50_sorted_neighborhood": 8,
    "f51_semantic_dedup": 8,
    "f52_dsir_weights": 8,
    "f53_bpe_pair_merges": 7,
    "f54_bigram_perplexity": 11,
    "f55_vocab_coverage": 11,
    "f56_ngram_novelty": 11,
    "f57_winnowing_candidates": 12,
    "f58_hard_negatives": 12,
    "f59_retrieval_metrics": 12,
    "f5_knn_vote": 14,
    "f5_knn_weighted_vote": 9,
    "f60_knn_eval": 12,
    "f61_common_substring_spans": 12,
    "f62_compression_ratio": 8,
    "f63_lsh_dedup_eval": 8,
    "f64_power_iteration_pca": 12,
    "f65_dataset_card": 12,
    "f67_consistent_sharding": 13,
    "f6_token_stats": 14,
    "f6b_char_profile": 14,
    "f6c_subword_counts": 14,
    "f6d_rolling_fingerprint": 14,
    "f6e_langid_heuristic": 14,
    "f70_rendezvous_sharding": 14,
    "f71_preference_pairs": 14,
    "f72_compaction_plan": 8,
    "f78_token_budget_curve": 8,
    "f7_stopword_filter": 14,
    "f7b_stopword_share": 8,
    "f80_epoch_vocab_novelty": 8,
    "f81_source_dup_profile": 8,
    "f82_cross_split_contamination": 10,
    "f83_stopword_autodetect": 10,
    "f85_int8_quant_error": 10,
    "f8_top_bigrams": 14,
    "f9_tfidf": 14,
    "f9b_tfidf_doc_cosine": 9,
    "feature_quantile_bins": 14,
    "feature_target_encode_loo": 14,
    "feature_winsorize": 14,
    "feature_zscore": 14,
    "forecast_seasonal_backtest": 7,
    "func_array": 13,
    "func_array2": 13,
    "func_array3": 13,
    "func_array4": 13,
    "func_bitwise": 13,
    "func_conditional": 13,
    "func_datetime": 13,
    "func_datetime2": 13,
    "func_datetime3": 13,
    "func_hash": 13,
    "func_hash_spark_native": 10,
    "func_json_array_stats": 8,
    "func_json_roundtrip": 8,
    "func_map2": 13,
    "func_map3": 13,
    "func_map_entries_agg": 8,
    "func_map_json": 13,
    "func_math": 13,
    "func_regex": 12,
    "func_string": 13,
    "func_string2": 13,
    "func_string3": 13,
    "func_variant_json": 8,
    "funnel_conversion": 9,
    "funnel_conversion_lag": 7,
    "funnel_session_strict": 7,
    "fuzzy_jaro_winkler": 11,
    "fuzzy_mutual_best": 12,
    "fuzzy_vocab_pairs": 10,
    "g1_scalar_udf": 14,
    "g3_pandas_udaf": 14,
    "g3b_pandas_udaf_weighted": 9,
    "g4_grouped_map": 14,
    "g4b_grouped_map_gap_rank": 10,
    "g5_map_in_pandas": 14,
    "g5b_map_in_arrow": 14,
    "g6_udtf_shingles": 14,
    "g6b_udtf_chunker": 10,
    "g7_sql_scalar_udf": 8,
    "global_dense_ids": 11,
    "global_topk": 11,
    "graph_khop_reachability": 11,
    "graph_label_propagation": 12,
    "graph_local_clustering": 12,
    "graph_triangle_count": 11,
    "grouping_id_measures": 8,
    "hist_windowed_merge": 14,
    "impute_group_median": 11,
    "incremental_partial_merge": 7,
    "interevent_gap_profile": 7,
    "interval_campaign_overlap": 12,
    "interval_max_concurrency": 7,
    "ivm_agg_maintenance": 7,
    "join_anti": 9,
    "join_asof": 9,
    "join_asof_nearest": 11,
    "join_asof_tolerance": 11,
    "join_broadcast_dims": 9,
    "join_cross": 9,
    "join_full_outer": 9,
    "join_left_outer": 9,
    "join_null_safe": 12,
    "join_range_theta": 9,
    "join_semi": 9,
    "kmeans_assign_exact": 11,
    "kmeans_lite_clusters": 8,
    "kmv_distinct_jaccard": 13,
    "kmv_set_difference": 14,
    "mi_type_hour_profile": 11,
    "mixture_nucleus_topp": 12,
    "mixture_temperature_weights": 12,
    "order_nulls_last": 12,
    "pagerank_neardup_hubs": 12,
    "pareto_frontier_2d": 11,
    "path_transitions": 7,
    "pipeline_composite": 9,
    "pivot_two_measures": 8,
    "privacy_k_anonymity": 7,
    "privacy_suppression": 7,
    "q10_returned_items": 9,
    "q11_important_parts": 12,
    "q12_shipping_buckets": 12,
    "q13_order_count_distribution": 9,
    "q14_promo_revenue_share": 9,
    "q15_top_supplier": 12,
    "q16_part_supplier_variety": 12,
    "q17_small_qty_revenue": 12,
    "q18_large_orders": 9,
    "q19_disjunctive_revenue": 12,
    "q1_pricing_summary": 9,
    "q20_dominant_suppliers": 12,
    "q21_waiting_suppliers": 12,
    "q22_idle_customers": 12,
    "q2_min_cost_supplier": 12,
    "q3_top_revenue": 9,
    "q4_order_priority": 12,
    "q5_local_supplier_revenue": 9,
    "q6_forecast_revenue": 9,
    "q7_volume_shipping": 9,
    "q8_market_share": 12,
    "q9_product_profit": 12,
    "quantile_histogram_estimate": 10,
    "redelivery_counter_batch_twin": 8,
    "regression_residual_profile": 11,
    "reschedule_retry_loop": 9,
    "rfm_segmentation": 7,
    "robust_theil_sen": 12,
    "rolling_active_users": 7,
    "rollup_share_of_parent": 10,
    "rollup_two_level": 12,
    "salted_hot_key_agg": 10,
    "sample_hash_deterministic": 13,
    "sample_neyman_allocation": 12,
    "sample_reservoir_merge": 13,
    "sample_seeded": 10,
    "sample_stratified": 13,
    "sample_weighted_deterministic": 13,
    "scalar_subquery": 11,
    "scd2_asof_revenue": 10,
    "scd2_multi_epoch": 10,
    "selector_3vl_null": 8,
    "selector_between": 8,
    "selector_comparison_arith": 8,
    "selector_documents": 9,
    "selector_documents_composite": 9,
    "selector_fanout": 9,
    "selector_fanout_nway": 9,
    "selector_flagship_window": 9,
    "selector_header_composite": 10,
    "selector_header_time": 9,
    "selector_in": 9,
    "selector_like": 9,
    "selector_like_escape": 9,
    "selector_params": 9,
    "selector_params_multi": 9,
    "selector_props_coercion": 9,
    "selector_props_range_in": 10,
    "selector_regex": 9,
    "selector_verdict_routing": 9,
    "session_top_paths": 7,
    "session_ttl_batch_twin": 8,
    "setop_all_variants": 11,
    "setop_intersect_except": 11,
    "setop_union_all": 11,
    "setop_union_missing_cols": 11,
    "share_of_total": 7,
    "sketch_kll_quantiles": 8,
    "sketch_misra_gries": 14,
    "sketch_sample_quantiles": 7,
    "sql_shared_case_join": 13,
    "sql_shared_cte_setops": 11,
    "sql_shared_exists": 12,
    "sql_shared_filter_clause": 10,
    "sql_shared_grouping_sets": 13,
    "sql_shared_in_subquery": 13,
    "sql_shared_lateral_top1": 8,
    "sql_shared_pricing": 12,
    "sql_shared_range_frame": 10,
    "sql_shared_recursive_reach": 8,
    "sql_shared_values_dim": 10,
    "sql_shared_window": 11,
    "stream_cms_rollup_readpath": 7,
    "stream_dedup_daily_first": 8,
    "stream_dedup_first": 13,
    "stream_dedup_keep_last": 8,
    "stream_kll_rollup_readpath": 8,
    "stream_mg_rollup_readpath": 7,
    "stream_static_join": 13,
    "stream_stream_join": 13,
    "stream_stream_join_followup": 9,
    "stream_stream_join_outer_first": 9,
    "survival_kaplan_meier": 12,
    "throttle_per_user_hour": 10,
    "timeseries_autocorr": 7,
    "timeseries_ewma": 7,
    "timeseries_gapfill": 7,
    "timeseries_seasonal_decompose": 12,
    "timeseries_trend_slope": 7,
    "topk_per_group": 11,
    "topk_with_ties": 11,
    "user_profile_batch_twin": 8,
    "vocab_oov_rate": 14,
    "window_distribution": 10,
    "window_lag_lead": 10,
    "window_range_frame": 10,
    "window_rank": 10,
    "window_rolling_corr": 11,
    "window_running_sum": 10,
    "window_session": 13,
    "window_sliding": 13,
    "window_sliding_reach": 8,
    "window_trailing_hour": 8,
    "window_tumbling": 13,
    "window_value_functions": 11,
}

#: Names with a green driver row in ANY round (window-eligibility view).
_DRIVER_VERIFIED = frozenset(_DRIVER_VERIFIED_ROUND)

# Names with ONLY local-gate evidence (tools/check_parity.py full
# DuckDB-oracle run at sf0.01, green) and no driver CORRECTNESS row yet.
# Ordered after never-verified names, before rows-only ones — provenance
# stays explicit while the window drains the least-evidenced first.
_LOCALLY_VERIFIED: frozenset = frozenset()


def all_graded() -> dict[str, GradedQuery]:
    _load_modules()

    def bucket(g: GradedQuery) -> tuple[int, int]:
        last = _DRIVER_VERIFIED_ROUND.get(g.name)
        if last is not None:
            # Driver-verified: evidence-freshness policy — stalest round
            # first, so re-grades rotate through the whole registry.
            return (3, last)
        if g.oracle is None:
            return (2, 0)
        # Never-driver-graded, oracle-checked: least-evidenced first —
        # names without even local-gate history precede locally-verified.
        return (0 if g.name not in _LOCALLY_VERIFIED else 1, 0)

    ordered = sorted(
        enumerate(_REGISTRY.values()), key=lambda iv: (bucket(iv[1]), iv[0])
    )
    return {g.name: g for _, g in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: g.fn for n, g in all_graded().items()}


def oracle_sql() -> dict[str, str]:
    return {n: g.oracle for n, g in all_graded().items() if g.oracle is not None}


_LOADED = False


def _load_modules() -> None:
    """Import every operator module so its @graded decorators run."""
    global _LOADED
    if _LOADED:
        return
    import pulsar_message_filter_spark.operators.selector_queries  # noqa: F401
    import pulsar_message_filter_spark.operators.relational  # noqa: F401
    import pulsar_message_filter_spark.operators.workload  # noqa: F401
    import pulsar_message_filter_spark.operators.sql_surface  # noqa: F401
    import pulsar_message_filter_spark.operators.sampling  # noqa: F401
    import pulsar_message_filter_spark.operators.scalar_functions  # noqa: F401
    import pulsar_message_filter_spark.operators.windows  # noqa: F401
    import pulsar_message_filter_spark.operators.dedup  # noqa: F401
    import pulsar_message_filter_spark.operators.similarity  # noqa: F401
    import pulsar_message_filter_spark.operators.text  # noqa: F401
    import pulsar_message_filter_spark.operators.multimodal  # noqa: F401
    import pulsar_message_filter_spark.operators.udf_surface  # noqa: F401
    import pulsar_message_filter_spark.operators.features  # noqa: F401
    import pulsar_message_filter_spark.operators.mixture  # noqa: F401
    import pulsar_message_filter_spark.operators.ngrams  # noqa: F401
    import pulsar_message_filter_spark.operators.scrub  # noqa: F401
    import pulsar_message_filter_spark.operators.profiling  # noqa: F401
    import pulsar_message_filter_spark.operators.behavior  # noqa: F401
    import pulsar_message_filter_spark.operators.timeseries  # noqa: F401
    import pulsar_message_filter_spark.operators.cdc  # noqa: F401
    import pulsar_message_filter_spark.operators.quality  # noqa: F401
    import pulsar_message_filter_spark.operators.fuzzy  # noqa: F401
    import pulsar_message_filter_spark.operators.throttle  # noqa: F401
    import pulsar_message_filter_spark.operators.skew_queries  # noqa: F401
    import pulsar_message_filter_spark.operators.scd  # noqa: F401
    import pulsar_message_filter_spark.operators.ingestion  # noqa: F401
    import pulsar_message_filter_spark.operators.sketch  # noqa: F401
    import pulsar_message_filter_spark.operators.graph  # noqa: F401
    import pulsar_message_filter_spark.operators.drift  # noqa: F401
    import pulsar_message_filter_spark.operators.retrieval  # noqa: F401
    import pulsar_message_filter_spark.operators.robust  # noqa: F401
    import pulsar_message_filter_spark.operators.abtest  # noqa: F401
    import pulsar_message_filter_spark.operators.linkage  # noqa: F401
    import pulsar_message_filter_spark.operators.semdedup  # noqa: F401
    import pulsar_message_filter_spark.operators.heavy  # noqa: F401
    import pulsar_message_filter_spark.operators.argstats  # noqa: F401
    import pulsar_message_filter_spark.operators.lm  # noqa: F401
    import pulsar_message_filter_spark.operators.rollup_queries  # noqa: F401
    import pulsar_message_filter_spark.operators.breadth  # noqa: F401
    import pulsar_message_filter_spark.operators.widen  # noqa: F401
    import pulsar_message_filter_spark.operators.widen2  # noqa: F401
    import pulsar_message_filter_spark.operators.widen3  # noqa: F401
    import pulsar_message_filter_spark.operators.widen4  # noqa: F401
    import pulsar_message_filter_spark.operators.bpe  # noqa: F401

    _LOADED = True
