"""Central query registry — the declared operator inventory.

Every Plane-B operator/query registers here with (a) a Spark DataFrame
builder and (b) where SQL-expressible, an equivalent ANSI-SQL oracle that
DuckDB runs on the same parquet tables.  ``__spark_entry__.py`` exposes the
registry to the driver's correctness gate.

Determinism rules for every registered query (FIXTURES.md §C):
* stable ORDER BY on a unique key suffix;
* no wall-clock / uuid / rand;
* every computed column aliased identically in the Spark plan and the oracle;
* double-typed aggregates computed over DECIMAL then cast back to DOUBLE so
  both engines produce bit-identical sums regardless of accumulation order;
* no raw timestamp outputs (cast to epoch BIGINT or ISO string) to sidestep
  timezone/precision representation differences.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL, or None for rows-only checks
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None, description: str = "",
          tags: tuple[str, ...] = ()):  # decorator
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, builder=fn, oracle=oracle,
                                  description=description or (fn.__doc__ or "").strip(),
                                  tags=tags)
        return fn

    return deco


# The driver's correctness gate processes `queries()` in dict order and,
# in round 1, produced rows for exactly the first 50 entries
# (CORRECTNESS_r01: the registry prefix) — so ordering decides who gets a
# hard correctness signal.  Rotation policy (VERDICT r5 item 4):
#   1. queries with NO green gate row yet go first (oracle'd before
#      rows-only, then fastest-first) so new work gets value-verified the
#      round it lands;
#   2. previously-gated queries follow OLDEST-EVIDENCE-FIRST — each name
#      carries the round of its most recent green driver row below, and
#      the regression tail sorts ascending on it, so the ~45 spare slots
#      per 50-cap round bound every query's evidence age instead of
#      letting registration order decide who gets re-checked.
# A query re-sampled green in a later round moves to that round (e.g. the
# r1 TPC-H prefix re-verified in r5's tail).  Rows-only entries
# (q_whatif_capacity_grid, q_bpe_merges) stay in the pool with the round
# their driver row was recorded; they can only ever earn row-count
# evidence, which is still staleness-bounded like everything else.
_EVIDENCE_ROUND: dict[str, int] = {
    # --- last green driver row: round 5 (41 queries) ---
    "q_classifier_eval": 5, "q_containment_pairs": 5, "q_curation_funnel": 5,
    "q_date_parts": 5, "q_dsir_select": 5, "q_dup_ngram_fraction": 5,
    "q_emb_lsh_ann": 5, "q_emb_pq_adc": 5, "q_filter_compound": 5,
    "q_hop_window": 5, "q_hybrid_rrf": 5, "q_jaccard_prefix_pairs": 5,
    "q_join_full_nation_coverage": 5, "q_join_left_order_counts": 5,
    "q_join_right_customer_coverage": 5, "q_kmeans_iterate": 5,
    "q_ks_statistic": 5, "q_mad_outliers": 5, "q_markov_anomaly": 5,
    "q_month_spine_gapfill": 5, "q_ngram_decontamination": 5,
    "q_pagerank_parts": 5, "q_price_elasticity": 5, "q_quality_classifier": 5,
    "q_rolling_distinct": 5, "q_scalar_math": 5, "q_scan_filter_project": 5,
    "q_semi_join": 5, "q_stream_count_runtime": 5,
    "q_stream_dedup_runtime": 5, "q_stream_join_runtime": 5,
    "q_stream_outer_join_runtime": 5, "q_stream_session_runtime": 5,
    "q_stream_tumble_runtime": 5, "q_string_funcs": 5, "q_supplier_stats": 5,
    "q_table_profile": 5, "q_tfidf_cosine_pairs": 5, "q_token_entropy": 5,
    "q_triangle_count": 5, "q_tumble_window": 5,
    # --- last green driver row: round 6 (50 queries) ---
    "q13_order_histogram": 6, "q14_promo_share": 6, "q15_top_supplier": 6,
    "q16_supplier_variety": 6, "q17_small_quantity": 6, "q18_large_orders": 6,
    "q19_disjunctive_predicates": 6, "q21_sole_late_shipper": 6,
    "q22_idle_balances": 6, "q4_late_orders": 6, "q6_forecast_revenue": 6,
    "q7_nation_trade": 6, "q8_market_share": 6, "q9_nation_profit": 6,
    "q_asof_join": 6, "q_bigram_nll": 6, "q_bootstrap_ci": 6,
    "q_cep_funnel": 6, "q_chi2_terms": 6, "q_classifier_auc": 6,
    "q_classifier_calibration": 6, "q_cohen_kappa": 6, "q_cube": 6,
    "q_dedup_by_key": 6, "q_distinct_pairs": 6, "q_emb_ivfpq_adc": 6,
    "q_entity_resolution": 6, "q_grouping_sets": 6, "q_json_extract": 6,
    "q_longest_shared_run": 6, "q_psi_drift": 6, "q_retrieval_ndcg": 6,
    "q_silhouette": 6, "q_source_overlap_matrix": 6,
    "q_stream_anomaly_runtime": 6, "q_stream_cep_runtime": 6,
    "q_stream_chained_agg_runtime": 6, "q_stream_cms_runtime": 6,
    "q_stream_dynsession_runtime": 6, "q_stream_funnel_runtime": 6,
    "q_stream_temporal_runtime": 6, "q_stream_topn_runtime": 6,
    "q_stream_twa_runtime": 6, "q_temperature_mix": 6, "q_theil_sen": 6,
    "q_threshold_sweep": 6, "q_tokenizer_fertility": 6,
    "q_winnow_fingerprints": 6, "q_winnow_shared_pairs": 6, "q_zipf_slope": 6,
    # --- last green driver row: round 7 (50 queries) ---
    "q_approx_sketches": 7, "q_cep_four_step": 7, "q_cep_three_step": 7,
    "q_class_weights": 7, "q_conformal_interval": 7,
    "q_contamination_screen": 7, "q_cumulate_window": 7, "q_cuped_lift": 7,
    "q_data_mixing": 7, "q_dedup_embedding": 7, "q_dedup_exact_docs": 7,
    "q_dedup_keep_list": 7, "q_dedup_rewrite": 7,
    "q_dedup_threshold_curve": 7, "q_delta_ratio": 7, "q_emb_cosine_topk": 7,
    "q_emb_graph_ann": 7, "q_emb_label_knn": 7, "q_emb_matryoshka": 7,
    "q_hash_sample": 7, "q_kanonymity": 7, "q_kcenter_coreset": 7,
    "q_kcore_peel": 7, "q_lag_delta": 7, "q_ldiversity": 7, "q_moving_avg": 7,
    "q_multimodal_ahash": 7, "q_multimodal_decode": 7, "q_multimodal_wav": 7,
    "q_multimodal_y4m": 7, "q_mutual_knn_pairs": 7, "q_ntile_rank": 7,
    "q_pivot_status": 7, "q_power_mde": 7, "q_range_join_bands": 7,
    "q_rollup": 7, "q_running_revenue": 7, "q_scalar_subquery": 7,
    "q_set_ops": 7, "q_stream_dedup_ttl_runtime": 7,
    "q_stream_kmv_runtime": 7, "q_stream_rollup_runtime": 7,
    "q_stream_tws_cep_runtime": 7, "q_stream_tws_topn_runtime": 7,
    "q_stream_union_runtime": 7, "q_theta_setops": 7, "q_topk_per_group": 7,
    "q_url_dedup_rate": 7, "q_wasserstein_drift": 7, "q_zorder_layout": 7,
    # --- last green driver row: round 8 (50 queries) ---
    "q11_important_parts": 8, "q12_priority_shipping": 8,
    "q20_majority_shippers": 8, "q2_min_cost_supplier": 8,
    "q_ab_test_lift": 8, "q_asof_forward": 8, "q_autocorrelation": 8,
    "q_click_trigrams": 8, "q_corr_qty_price": 8, "q_correlated_subquery": 8,
    "q_incremental_rollup": 8, "q_interval_join": 8, "q_lang_mismatch": 8,
    "q_multimodal_features": 8, "q_multimodal_frames": 8,
    "q_multimodal_jpeg": 8, "q_multimodal_resize": 8,
    "q_multistage_windows": 8, "q_ngram_lm": 8, "q_pandas_grouped_agg": 8,
    "q_pandas_udf_score": 8, "q_percentiles": 8, "q_pii_redaction": 8,
    "q_quality_funnel": 8, "q_resample_ffill": 8, "q_reservoir_per_group": 8,
    "q_scd2_history": 8, "q_sequence_packing": 8, "q_session_dynamic_gap": 8,
    "q_shared_spans": 8, "q_skew_salted_agg": 8,
    "q_stream_restart_runtime": 8, "q_stream_theta_pairs_runtime": 8,
    "q_stream_tws_ttl_runtime": 8, "q_temporal_join": 8,
    "q_text_fingerprint": 8, "q_text_lang_guess": 8, "q_text_quality": 8,
    "q_text_repetition": 8, "q_text_tfidf_top": 8, "q_text_token_stats": 8,
    "q_time_range_frame": 8, "q_training_order": 8, "q_udtf_tokens": 8,
    "q_unpivot": 8, "q_value_outliers": 8, "q_vocab_growth": 8,
    "q_window_dedup": 8, "q_window_join": 8, "q_window_topn": 8,
    # --- last green driver row: round 9 (50 queries) ---
    "q_abc_by_brand": 9, "q_asof_nearest": 9, "q_attribution_linear": 9,
    "q_audience_overlap": 9, "q_basket_rules": 9, "q_benford_audit": 9,
    "q_bloom_join_prune": 9, "q_bm25_search": 9, "q_budget_allocation": 9,
    "q_dedup_clusters": 9, "q_dedup_jaccard_pairs": 9,
    "q_distribution_drift": 9, "q_doc_chunks": 9, "q_doc_nll": 9,
    "q_emb_centroids": 9, "q_emb_ivf_recall": 9, "q_emb_lsh_recall": 9,
    "q_first_last_window": 9, "q_fuzzy_digit_pairs": 9,
    "q_fuzzy_name_pairs": 9, "q_grouped_concat": 9,
    "q_grouped_pandas_minmax": 9, "q_hll_rollup": 9, "q_inverted_index": 9,
    "q_kll_rollup": 9, "q_kmeans_assign": 9, "q_lateral_topn": 9,
    "q_linreg_by_group": 9, "q_minhash_recall": 9, "q_mode_per_group": 9,
    "q_null_aware_anti": 9, "q_percent_rank": 9, "q_resample_interp": 9,
    "q_rolling_median": 9, "q_sessionization": 9, "q_set_ops_all": 9,
    "q_share_of_total": 9, "q_simhash_recall": 9, "q_skew_salted_join": 9,
    "q_stream_ingest_pipeline_runtime": 9, "q_stream_join_restart_runtime": 9,
    "q_stream_kll_runtime": 9, "q_stream_lsh_neardup_runtime": 9,
    "q_stream_theta_curve_runtime": 9, "q_stream_tws_restart_runtime": 9,
    "q_train_split": 9, "q_value_histogram": 9, "q_weighted_sample": 9,
    "q_whatif_capacity_grid": 9, "q_yoy_growth": 9,
    # --- last green driver row: round 10 (50 queries) ---
    "q10_returned_items": 10, "q1_pricing_summary": 10,
    "q3_shipping_priority": 10, "q5_region_revenue": 10, "q_anti_join": 10,
    "q_bfs_levels": 10, "q_bpe_encode_cert": 10, "q_bpe_merges": 10,
    "q_case_when": 10, "q_change_point": 10, "q_cms_heavy_hitters": 10,
    "q_cohort_retention": 10, "q_conversion_latency": 10,
    "q_copurchase_pairs": 10, "q_count_window": 10, "q_dedup_minhash_lsh": 10,
    "q_dedup_simhash": 10, "q_emb_ivf_ann": 10, "q_emb_outliers": 10,
    "q_emb_quantized_topk": 10, "q_event_transitions": 10,
    "q_forget_cascade": 10, "q_geo_radius_join": 10, "q_gini_by_nation": 10,
    "q_incremental_dedup": 10, "q_interval_union": 10, "q_lang_balance": 10,
    "q_length_buckets": 10, "q_max_concurrency": 10, "q_multimodal_phash": 10,
    "q_mutual_information": 10, "q_new_vs_returning": 10,
    "q_null_ordering": 10, "q_order_streaks": 10, "q_ref_integrity": 10,
    "q_repeated_ngrams": 10, "q_rfm_by_nation": 10, "q_running_anomaly": 10,
    "q_seasonal_index": 10, "q_semdedup_prune": 10, "q_skew_advisor": 10,
    "q_sla_attainment": 10, "q_snapshot_diff": 10, "q_survival_steps": 10,
    "q_time_weighted_avg": 10, "q_triplet_mining": 10,
    "q_ts_pattern_match": 10, "q_union_by_name_drift": 10,
    "q_variant_extract": 10, "q_winsorized_stats": 10,
}
_GATED_PRIOR_ROUNDS = frozenset(_EVIDENCE_ROUND)


# Measured sf0.01 gate-replica runtimes (bench.py, this round).  If the gate
# budget is a row cap, ordering decides only WHO gets a row — put the
# stronger-signal oracle'd checks first; if it is a time budget, fast-first
# maximizes how many fit.  Sorting (has_oracle desc, measured runtime asc)
# optimizes both without knowing which budget the driver applies.
_SF001_SEC_PAIRS = [
    ("q_pandas_udf_score", 0.11), ("q_unpivot", 0.15),
    ("q_dedup_exact_docs", 0.17), ("q_time_range_frame", 0.19),
    ("q_percentiles", 0.2), ("q_scd2_history", 0.22),
    ("q_pandas_grouped_agg", 0.24), ("q_hash_sample", 0.25),
    ("q_text_quality", 0.26), ("q_multistage_windows", 0.27),
    ("q_text_repetition", 0.28), ("q_skew_salted_agg", 0.29),
    ("q_contamination_screen", 0.3), ("q_window_dedup", 0.31),
    ("q_multimodal_resize", 0.33), ("q_window_join", 0.34),
    ("q_join_right_customer_coverage", 0.35), ("q_class_weights", 0.36),
    ("q_multimodal_frames", 0.37), ("q_interval_join", 0.38),
    ("q_reservoir_per_group", 0.39), ("q_training_order", 0.4),
    ("q_data_mixing", 0.41), ("q_text_fingerprint", 0.42),
    ("q_multimodal_features", 0.43), ("q_text_lang_guess", 0.44),
    ("q_approx_sketches", 0.45), ("q_cumulate_window", 0.46),
    ("q_vocab_growth", 0.46), ("q_text_token_stats", 0.47),
    ("q_pii_redaction", 0.48), ("q_session_dynamic_gap", 0.49),
    ("q_window_topn", 0.5), ("q_quality_funnel", 0.52),
    ("q_udtf_tokens", 0.54), ("q_value_outliers", 0.56),
    ("q_temporal_join", 0.58), ("q_lang_mismatch", 0.6),
    ("q_dedup_embedding", 0.62), ("q_shared_spans", 0.64),
    ("q_cep_three_step", 0.7), ("q_resample_ffill", 0.72),
    ("q_text_tfidf_top", 0.75), ("q_emb_label_knn", 0.8),
    ("q_incremental_rollup", 0.8), ("q_sequence_packing", 0.85),
    ("q_ngram_lm", 0.95), ("q_dedup_keep_list", 1.1),
    ("q_emb_cosine_topk", 1.2), ("q_fuzzy_name_pairs", 1.3),
    ("q11_important_parts", 1.4), ("q20_majority_shippers", 1.5),
    ("q2_min_cost_supplier", 1.6), ("q_emb_ivf_recall", 1.7),
    ("q_whatif_capacity_grid", 1.7), ("q_dedup_minhash_lsh", 1.11),
    ("q_minhash_recall", 2.0), ("q_grouped_pandas_minmax", 2.2),
    ("q_simhash_recall", 2.4), ("q_emb_ivf_ann", 0.8),
    ("q_dedup_simhash", 1.51), ("q_dedup_clusters", 2.9),
    ("q_emb_lsh_recall", 3.8), ("q_emb_lsh_ann", 2.56),
    ("q_dedup_jaccard_pairs", 5.0),
    # round-3 session additions (measured sf0.01, min-of-2, warm JVM)
    ("q_share_of_total", 0.3), ("q_train_split", 0.35),
    ("q_rolling_median", 0.4), ("q_inverted_index", 0.44),
    ("q_mode_per_group", 0.47), ("q_skew_salted_join", 0.48),
    ("q_first_last_window", 0.51), ("q_null_aware_anti", 0.66),
    ("q_cms_heavy_hitters", 0.68), ("q_ref_integrity", 0.72),
    ("q_snapshot_diff", 1.02), ("q_emb_quantized_topk", 1.07),
    ("q_bm25_search", 1.1), ("q_table_profile", 1.62),
    ("q_cohort_retention", 0.95), ("q_count_window", 1.06),
    ("q_copurchase_pairs", 1.14), ("q_pagerank_parts", 1.79),
    ("q_month_spine_gapfill", 1.67), ("q_ngram_decontamination", 1.52),
    ("q_forget_cascade", 1.09), ("q_event_transitions", 1.13),
    ("q_conversion_latency", 0.77), ("q_running_anomaly", 0.9),
    ("q_order_streaks", 1.26),
    ("q_yoy_growth", 0.61), ("q_bloom_join_prune", 0.79),
    ("q_length_buckets", 0.97), ("q_token_entropy", 2.79),
    ("q_mad_outliers", 1.63), ("q_jaccard_prefix_pairs", 2.31),
    ("q_incremental_dedup", 0.98), ("q_click_trigrams", 0.59),
    ("q_triangle_count", 1.61), ("q_linreg_by_group", 0.65),
    ("q_correlated_subquery", 0.52), ("q_lateral_topn", 0.42),
    ("q_lang_balance", 0.88), ("q_repeated_ngrams", 1.0),
    ("q_union_by_name_drift", 0.94), ("q_containment_pairs", 2.1),
    ("q_winsorized_stats", 0.96), ("q_multimodal_phash", 0.99),
    ("q_variant_extract", 0.72), ("q_time_weighted_avg", 0.88),
    ("q_audience_overlap", 1.0), ("q_abc_by_brand", 0.86),
    ("q_ts_pattern_match", 0.7), ("q_budget_allocation", 1.16),
    ("q_geo_radius_join", 0.99), ("q_bpe_merges", 1.02),
    ("q_null_ordering", 0.68), ("q_interval_union", 0.84),
    ("q_mutual_information", 1.25), ("q_benford_audit", 1.03),
    ("q_attribution_linear", 1.07), ("q_asof_nearest", 0.82),
    ("q_survival_steps", 1.13), ("q_ab_test_lift", 0.68),
    ("q_seasonal_index", 0.86), ("q_rfm_by_nation", 0.99),
    ("q_basket_rules", 0.92), ("q_new_vs_returning", 1.11),
    ("q_gini_by_nation", 0.97), ("q_change_point", 0.95),
    ("q_autocorrelation", 0.64), ("q_max_concurrency", 0.88),
    ("q_price_elasticity", 1.75), ("q_skew_advisor", 1.29),
    ("q_sla_attainment", 1.05), ("q_tfidf_cosine_pairs", 2.02),
    ("q_distribution_drift", 0.64),
    # round-4 session additions + re-measured conversions (sf0.01, warm)
    ("q_semdedup_prune", 0.72), ("q_emb_outliers", 0.52),
    ("q_kmeans_iterate", 2.2), ("q_triplet_mining", 0.9),
    # round-5: the streaming-runtime evidence query (real micro-batch
    # execution; time is state-store startup, measured warm at sf0.01)
    ("q_stream_tumble_runtime", 3.0),
    ("q_hybrid_rrf", 1.2),
    ("q_bpe_encode_cert", 0.9),
    ("q_stream_dedup_runtime", 2.2),
    ("q_curation_funnel", 0.8),
    # round-5 second batch: learned relational scorers, PQ-ADC ANN, the
    # session-window streaming-state runtime query
    ("q_quality_classifier", 1.3),
    ("q_dsir_select", 1.1),
    ("q_emb_pq_adc", 2.5),
    ("q_stream_session_runtime", 2.2),
    # round-5 third batch: stream-stream join state runtime, the trained
    # Markov sequence scorer, the cross-doc duplicated-ngram screen
    ("q_stream_join_runtime", 3.8),
    ("q_markov_anomaly", 1.1),
    ("q_dup_ngram_fraction", 1.5),
    ("q_bfs_levels", 2.4),
    ("q_stream_count_runtime", 2.8),
    ("q_classifier_eval", 1.0),
    ("q_rolling_distinct", 0.9),
    ("q_ks_statistic", 0.8),
    ("q_stream_outer_join_runtime", 3.6),
    # round-6: the CEP chain and dynamic-gap session-window runtime gates
    ("q_stream_cep_runtime", 1.73),
    ("q_stream_dynsession_runtime", 1.2),
    # round-6 second batch: evaluation metrics (exact AUC, nDCG@10, PSI)
    ("q_classifier_auc", 2.61),
    ("q_retrieval_ndcg", 2.16),
    ("q_psi_drift", 0.74),
    ("q_winnow_fingerprints", 0.89),
    # round-6 third batch: the stream-static temporal-join runtime gate
    ("q_stream_temporal_runtime", 1.7),
    ("q_winnow_shared_pairs", 1.8),
    ("q_zipf_slope", 1.29),
    ("q_bootstrap_ci", 1.07),
    ("q_classifier_calibration", 1.41),
    ("q_stream_funnel_runtime", 1.78),
    # round-6 fourth batch: running-moment anomaly + step-integral TWA
    # custom-state runtime gates (warm sf0.01, min-of-2)
    ("q_stream_anomaly_runtime", 2.67),
    ("q_stream_twa_runtime", 1.99),
    # round-6 fifth batch: classifier operating sweep, rater agreement,
    # chi-square feature screen (warm sf0.01, min-of-2)
    ("q_threshold_sweep", 1.53),
    ("q_cohen_kappa", 1.13),
    ("q_chi2_terms", 0.66),
    # round-6 sixth batch: event-time-timer window top-N runtime gate
    # (warm sf0.01, min-of-2)
    ("q_stream_topn_runtime", 4.24),
    # round-6 seventh batch: clustering-quality silhouette, interpolated
    # bigram LM screen (warm sf0.01, min-of-2)
    ("q_silhouette", 0.83),
    ("q_bigram_nll", 1.28),
    ("q_longest_shared_run", 1.13),
    ("q_temperature_mix", 0.73),
    # round-6 eighth batch: mergeable CMS grid runtime gate
    # (warm sf0.01, min-of-2)
    ("q_stream_cms_runtime", 2.5),
    # round-6 ninth batch: chained multi-stateful windowed aggregation
    # runtime gate (warm sf0.01, min-of-2)
    ("q_stream_chained_agg_runtime", 2.31),
    # round-6 tenth batch: Theil-Sen robust trend, tokenizer fertility
    # (warm sf0.01, min-of-2)
    ("q_theil_sen", 1.39),
    ("q_tokenizer_fertility", 0.57),
    # round-6 eleventh batch: IVF-PQ composed ANN (warm sf0.01, min-of-2)
    ("q_emb_ivfpq_adc", 4.27),
    ("q_source_overlap_matrix", 1.43),
    # round-6 twelfth batch: entity-resolution capstone (warm sf0.01)
    ("q_entity_resolution", 2.5),
    # round-7 first batch: exact-substring dedup remediation (warm sf0.01)
    ("q_dedup_rewrite", 2.58),
    # round-7 second batch: exactly-once rollup maintenance sink runtime
    # gate (warm sf0.01)
    ("q_stream_rollup_runtime", 4.02),
    # round-7 third batch: canonical-URL provenance screen (warm sf0.01)
    ("q_url_dedup_rate", 1.48),
    # round-7 fourth batch: TTL-evicting dedup + multi-source union
    # runtime gates (warm sf0.01)
    ("q_stream_dedup_ttl_runtime", 3.29),
    ("q_stream_union_runtime", 2.78),
    # round-7 fifth batch: k-anonymity generalization-ladder census
    # (warm sf0.01)
    ("q_kanonymity", 0.93),
    # round-7 sixth batch: the Spark-4 typed-state API runtime gate
    # (transformWithStateInPandas for real; warm sf0.01)
    ("q_stream_tws_topn_runtime", 6.33),
    ("q_stream_tws_cep_runtime", 7.15),
    # round-7 seventh batch: REAL PNG decode round-trip gate (warm sf0.01)
    ("q_multimodal_decode", 1.55),
    # round-7 eighth batch: real WAV + Y4M decode gates (warm sf0.01)
    ("q_multimodal_wav", 1.08),
    ("q_multimodal_y4m", 0.98),
    # round-7 ninth batch: Z-order layout census (warm sf0.01)
    ("q_zorder_layout", 1.23),
    # round-7 tenth batch: aHash over real decoded pixels (warm sf0.01)
    ("q_multimodal_ahash", 1.0),
    # round-8 first batch: REAL baseline-JPEG decode gate (warm sf0.01)
    ("q_multimodal_jpeg", 1.3),
    # round-8 second batch: windowed theta pair-algebra runtime gate
    # (warm sf0.01, min-of-2)
    ("q_stream_theta_pairs_runtime", 5.8),
    # round-8 third batch: checkpoint-restart exactly-once gate
    # (warm sf0.01)
    ("q_stream_restart_runtime", 6.8),
    # round-8 fourth batch: typed-state TTL runtime gate (warm sf0.01,
    # min-of-3; first run pays JVM/TWS warm-up ~16 s)
    ("q_stream_tws_ttl_runtime", 6.0),
    # round-9 first batch: typed-state checkpoint-restart gate (two TWS
    # queries over one checkpoint; warm sf0.01 min-of-3, bench process)
    ("q_stream_tws_restart_runtime", 6.8),
    # round-9 second batch: windowed-theta threshold operating curve
    # (re-runs the KMV stream + a 10-threshold fan-out; warm sf0.01)
    ("q_stream_theta_curve_runtime", 5.6),
    # round-9 third batch: windowed KLL quantile certificate (built-in
    # datasketches agg as streaming state; warm sf0.01)
    ("q_stream_kll_runtime", 4.9),
]
assert len(_SF001_SEC_PAIRS) == len({n for n, _ in _SF001_SEC_PAIRS}), \
    "duplicate key in _SF001_SEC_PAIRS"
_SF001_SEC = dict(_SF001_SEC_PAIRS)


def _gate_order() -> list[str]:
    """Oracle'd-before-rows-only, then fastest-first (VERDICT r3 item 1).

    The r3 gate burned 6 of its 50 capped slots on rows-only (`no_oracle`)
    entries because a spent round-tiering flag sorted ahead of the
    oracle-presence key.  The tier is gone: ungated queries now sort
    (oracle is None, measured sf0.01 sec, name) so every capped driver slot
    verifies a value-checkable query first; rows-only queries (which can
    only ever produce a row-count record) follow, then previously-gated
    queries last, OLDEST evidence first, so regression sampling bounds
    every query's evidence age (see _EVIDENCE_ROUND).
    """
    names = list(QUERIES)
    ungated = [n for n in names if n not in _GATED_PRIOR_ROUNDS]
    ungated.sort(
        key=lambda n: (
            QUERIES[n].oracle is None,
            _SF001_SEC.get(n, 0.6),
            n,
        )
    )
    gated = [n for n in names if n in _GATED_PRIOR_ROUNDS]
    gated.sort(key=lambda n: (_EVIDENCE_ROUND[n], n))
    return ungated + gated


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].builder for name in _gate_order()}


def get_oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _gate_order()
        if QUERIES[name].oracle
    }
