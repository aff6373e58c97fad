"""Query registry — the driver-contract surface.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs on the
same parquet tables. ``__spark_entry__.queries()/oracle_sql()`` simply
re-export this registry.

Cross-engine determinism rules every query follows (SURVEY.md §5):
- alias every computed column identically in Spark and SQL;
- double SUM/AVG go through exact decimal accumulation
  (:mod:`databricks_etl_spark.functions.scalars`) so value hashes are
  row-order independent;
- iterative/approximate ops (KMeans, LSH) register with ``oracle=None``
  → driver records the weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    fn: QueryFn
    oracle: str | None
    bench: bool = False  # include in bench.py headline set
    # defer=True ranks an unverified oracled query BEHIND the round's
    # non-deferred unverified set (own-oracle first, then twins) in the
    # driver window: lanes landed after the current round's 50-entry
    # window is already full opt in so they queue for the NEXT round's
    # window instead of displacing verdict-requested lanes from this
    # one. Once driver-verified they rank like any other verified query.
    defer: bool = False


QUERIES: dict[str, QueryDef] = {}


def query(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    defer: bool = False,
):
    """Register a query under ``name`` with optional DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = QueryDef(fn=fn, oracle=oracle, bench=bench, defer=defer)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load()
    return {k: v.fn for k, v in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    _load()
    return {k: v.oracle for k, v in QUERIES.items() if v.oracle is not None}


def bench_queries() -> dict[str, QueryFn]:
    _load()
    return {k: v.fn for k, v in QUERIES.items() if v.bench}


_loaded = False

# Build round currently underway.  Bumped at each round rollover (when
# the previous round's CORRECTNESS artifact is folded into
# _DRIVER_VERIFIED below) so "same tree => same tiered-parity sample"
# holds on a fresh clone regardless of which artifacts are on disk
# (VERDICT r15 "What's wrong" #2).
# r17 was folded without a round bump (_FOLDED_THIS_ROUND), so the
# iteration sample keeps its round-17 draw.
BUILD_ROUND = 17

# Queries with a green (rows+schema+hash) row in any CORRECTNESS_r0N
# .json artifact so far. The external driver verifies the FIRST 50 registry entries in
# insertion order, so _load() sorts never-yet-verified queries to the
# front (keeping q01 as the smoke query) — each round rotates fresh
# queries into the driver's verification window instead of re-proving the
# same 50. MUST be refreshed each round with the new greens from
# CORRECTNESS_r{N}.json (exclude errored rows) or the window stalls.
_DRIVER_VERIFIED: frozenset[str] = frozenset(
    {
        # --- round 1 greens ---
        "q01_revenue_by_nation",
        "q02_projection_prune",
        "q03_isin_membership_sort",
        "q04_between_range",
        "q05_rlike_regex",
        "q06_case_when_buckets",
        "q07_conditional_update",
        "q08_null_branch_update",
        "q09_dup_key_expansion",
        "q10_left_enrich_counts",
        "q11_left_anti_delete",
        "q12_left_semi_exists",
        "q13_grouped_count_having",
        "q14_distinct_counts",
        "q15_value_counts",
        "q16_tpch_q1_pricing_summary",
        "q17_union_distinct",
        "q18_subtract_except",
        "q19_intersect",
        "q20_distinct_rows",
        "q21_window_lag_serial_check",
        "q22_dedup_keep_first",
        "q23_topk_orders",
        "q24_date_functions",
        "q25_greatest_latest_date",
        "q26_unix_timestamp_epoch",
        "q27_json_extract",
        "q28_column_arithmetic",
        "q29_rollup",
        "q30_pivot",
        "q31_profile_completeness",
        "q32_profile_uniqueness",
        "q33_profile_integrity",
        "q34_profile_summary_stats",
        "q35_profile_correlation",
        "q59_running_sum_window",
        "q60_arg_max",
        "q61_qualified_star_join",
        "q62_salted_skew_join",
        "q65_percentiles",
        "q66_cube",
        "q67_asof_join_last_click",
        "q69_range_join_price_bands",
        "q70_except_all_multiset",
        "q71_intersect_all_multiset",
        "q72_from_json_struct",
        "q77_unpivot_melt",
        "q78_array_functions",
        "q79_zscore_within_group",
        # --- round 2 greens (CORRECTNESS_r02.json; q80 excluded — errored) ---
        "q36_text_token_counts",
        "q37_text_quality",
        "q38_lang_id",
        "q39_term_frequency",
        "q40_doc_fingerprint",
        "q41_bottom_k_sketch",
        "q42_dedup_exact",
        "q43_jaccard_unigram_pairs",
        "q44_jaccard_3gram_pairs",
        "q47_cosine_topk_bruteforce",
        "q49_label_centroid_similarity",
        "q50_tumbling_window",
        "q51_sliding_window",
        "q52_session_windows",
        "q54_customer_features",
        "q56_multimodal_binary_meta",
        "q73_shipping_priority",
        "q74_region_supplier_volume",
        "q75_topk_per_group",
        "q76_scd2_history",
        "q81_inter_event_gaps",
        "q82_tfidf_top_terms",
        "q83_langid_confusion",
        "q84_training_data_prep",
        "q85_rolling_avg_range_frame",
        "q86_multires_rollup",
        "q87_bpe_regex_tokens",
        "q88_distribution_windows",
        "q89_grouping_sets",
        "q90_funnel_conversion",
        "q91_retention_cohorts",
        "q92_levenshtein_neardup",
        "q94_volume_shipping",
        "q95_returned_items",
        "q96_large_orders",
        "q97_broadcast_udf_lookup",
        "q98_merge_upsert",
        "q99_value_histogram",
        "q102_filtered_revenue",
        "q103_order_priority_exists",
        "q123_dup_clusters",
        "q124_cluster_survivors",
        "q130_bigram_coherence",
        "q132_incremental_agg_maintenance",
        "q133_order_day_streaks",
        "q134_revenue_share_of_nation",
        "q135_variant_json",
        "q136_nested_line_structs",
        # --- round 3 greens (CORRECTNESS_r03.json; 50/50 green) ---
        "q80_sessionize_lag_cumsum",
        "q104_local_supplier_volume",
        "q105_market_share",
        "q106_product_type_profit",
        "q107_late_shipment_priority",
        "q108_order_count_distribution",
        "q109_promo_revenue",
        "q110_top_supplier",
        "q111_national_acctbal_threshold",
        "q112_small_qty_revenue",
        "q113_disjunctive_revenue",
        "q114_idle_rich_customers",
        "q115_pergroup_ols",
        "q116_ivf_fullprobe_exact",
        "q119_min_cost_supplier",
        "q120_supplier_part_counts",
        "q121_concentrated_suppliers",
        "q122_waiting_orders",
        "q125_stratified_hash_sample",
        "q126_sample_stratum_stats",
        "q129_topk_per_stratum_sample",
        "q131_foreachbatch_materialized_counts",
        "q137_sql_lane_pricing",
        "q138_python_datasource",
        "q139_doc_chunking",
        "q140_sequence_packing",
        "q141_pii_redaction",
        "q142_vocab_oov",
        "q144_morton_layout",
        "q145_ann_recall_gate",
        "q146_cms_heavy_hitters_gate",
        "q147_skew_stress_join",
        "q148_morton_box_prune",
        "q149_quantile_sketch_gate",
        "q150_minhash_estimate_error",
        "q151_boilerplate_phrases",
        "q152_contamination_audit",
        "q153_quality_funnel",
        "q154_repetition_filters",
        "q155_window_function_breadth",
        "q156_higher_order_arrays",
        "q157_asof_forward_tolerance",
        "q158_gapfill_forward_fill",
        "q159_cumulative_distinct_users",
        "q160_rolling_median",
        "q161_session_conversion",
        "q163_simhash_md5_oracled",
        "q168_udtf_sentences",
        "q170_equidepth_histogram",
        # --- round 4 greens (CORRECTNESS_r04.json; 50/50 green) ---
        "q53_streaming_tumbling",
        "q57_multimodal_decode_features",
        "q58_multimodal_frame_sample",
        "q64_stateful_running_totals",
        "q93_streaming_dedup",
        "q100_stream_static_join",
        "q101_stream_stream_join",
        "q118_streaming_left_outer_join",
        "q127_freq_items_sketch",
        "q128_stateful_sessionize",
        "q143_hll_mergeable_distinct",
        "q164_map_functions",
        "q166_regexp_extract_all",
        "q167_mixture_reweighting",
        "q171_kmeans_invariant_gate",
        "q172_lsh_band_buckets",
        "q173_band_collision_candidates",
        "q174_neardup_rate_by_source",
        "q175_shard_balance",
        "q176_chunk_fill_stats",
        "q177_bitwise_aggregates",
        "q178_boolean_aggregates",
        "q179_string_function_breadth",
        "q180_try_arithmetic",
        "q181_date_function_breadth",
        "q182_regexp_breadth",
        "q183_ngram_novelty",
        "q184_prefix_dedup_survivorship",
        "q185_triangle_census",
        "q186_bloom_membership_gate",
        "q187_max_concurrent_intervals",
        "q188_dq_expectations",
        "q189_changelog_compaction",
        "q190_touch_attribution",
        "q191_event_transition_matrix",
        "q192_decile_lift",
        "q193_cosine_threshold_join",
        "q194_late_arrival_audit",
        "q195_snapshot_diff",
        "q196_token_association_lift",
        "q197_ewma_revenue",
        "q198_quantile_normalization",
        "q199_partition_manifest",
        "q200_gini_concentration",
        "q201_seasonality_index",
        "q202_weighted_sample_ht",
        "q203_conversion_latency",
        "q204_wow_revenue_delta",
        "q205_recursive_hierarchy",
        # --- round 5 greens (CORRECTNESS_r05.json; 42 green, q55 errored,
        # 7 rows-only `no_oracle` rows records excluded by definition) ---
        "q206_lateral_topk",
        "q207_higher_moments",
        "q208_chisq_contingency",
        "q209_string_agg_ordered",
        "q210_null_semantics",
        "q211_array_set_ops",
        "q212_histogram2d",
        "q213_pagerank_fixed_point",
        "q214_nearest_centroid",
        "q215_path_pattern_match",
        "q216_benford_audit",
        "q217_winsorized_stats",
        "q218_seasonal_naive_forecast",
        "q219_ab_test_ztest",
        "q220_rfm_segmentation",
        "q221_pareto_8020",
        "q222_cohort_ltv",
        "q223_max_drawdown",
        "q224_topk_with_ties",
        "q225_windowed_batch_dedup",
        "q226_join_size_estimation",
        "q227_contamination_by_source",
        "q228_ingestion_capstone",
        "q229_skew_factor_audit",
        "q230_embedding_hygiene",
        "q231_cross_shard_duplicates",
        "q232_dedup_token_budget",
        "q233_tombstone_cascade",
        "q234_train_split_assignment",
        "q235_range_partition_plan",
        "q236_novelty_by_batch",
        "q237_feature_leakage_audit",
        "q238_containment_neardup",
        "q239_group_quantile_bands",
        "q240_lsh_quality_audit",
        "q241_mad_outliers",
        "q242_broadcast_decision_audit",
        "q243_fk_orphan_matrix",
        "q244_neardup_degree_distribution",
        "q245_interval_union_coverage",
        "q246_source_scorecard",
        # --- round 6 greens (CORRECTNESS_r06.json; 41 green rows, q276
        # hash-red excluded, 8 rows-only `no_oracle` rows records excluded
        # by definition; q89/q90/q91/q92/q98 re-proven, already listed) ---
        "q247_equidepth_histogram_approx",
        "q248_rfm_approx_quintiles",
        "q249_decile_lift_approx",
        "q250_pareto_approx_topshare",
        "q251_vocab_topk_scalable",
        "q252_incremental_neardup_candidates",
        "q253_incremental_batch_novelty",
        "q254_streaming_fingerprint_dedup",
        "q255_lsh_quality_audit_sampled",
        "q256_band_index_update",
        "q257_streaming_incremental_neardup",
        "q258_quality_survivor_dedup",
        "q259_revenue_changepoint",
        "q260_token_entropy",
        "q261_variant_semistructured",
        "q262_pareto_front_parts",
        "q263_bm25_retrieval",
        "q264_k_anonymity_audit",
        "q265_embedding_dim_stats",
        "q266_embedded_record_parsing",
        "q267_time_weighted_average",
        "q268_multimodal_corrupt_rate",
        "q269_lsh_pruning_efficiency",
        "q270_trending_tokens_weekly",
        "q271_tfidf_cosine_pairs",
        "q272_incremental_neardup_capped",
        "q273_dynamic_gap_sessions",
        "q274_bitmap_distinct_customers",
        "q275_regression_moments",
        "q277_multimodal_audio_features",
        "q278_multimodal_readiness",
        "q279_streaming_sliding_window",
        "q280_fk_inference",
        "q281_functional_dependencies",
        "q282_header_detail_reconciliation",
        # --- round 7 greens (CORRECTNESS_r07.json; 41 green rows, 9
        # rows-only `no_oracle` rows records excluded by definition;
        # q01/q42/q43/q89-q92/q98/q99/q132-q134 re-proven, already
        # listed) ---
        "q276_embedding_covariance",
        "q283_exact_contamination_pairs",
        "q284_scorecard_exact_contamination",
        "q285_semdedup_fixed_centroids",
        "q287_semdedup_incremental",
        "q288_embedding_quantization_audit",
        "q289_cluster_aware_split",
        "q290_source_overlap_matrix",
        "q291_padding_waste_audit",
        "q292_hard_negatives",
        "q293_psi_drift",
        "q294_winsorized_acctbal",
        "q295_streaming_semdedup",
        "q296_bigram_lm_score",
        "q297_weighted_sample",
        "q298_rate_spike_detection",
        "q299_dup_cluster_sizes",
        "q300_image_ahash",
        "q301_image_ahash_pairs",
        "q302_image_hamming_pairs",
        "q303_audio_fingerprint",
        "q304_seasonal_naive_backtest",
        "q305_erasure_cascade_audit",
        "q306_dedup_threshold_sweep",
        "q307_geo_radius_join",
        "q308_geo_nearest_neighbor",
        "q309_multimodal_dedup_verdict",
        "q310_ann_recall_mrr",
        "q311_vocab_drift",
        # --- round 8 greens (CORRECTNESS_r08.json; 41 green rows, 9
        # rows-only `no_oracle` rows records excluded by definition;
        # q01/q42/q50-q53/q80/q89/q91/q93/q98/q100/q101/q161/q163 etc.
        # re-proven, already listed) ---
        "q312_training_manifest",
        "q313_sequence_packing",
        "q314_packing_efficiency",
        "q315_temperature_mixed_sample",
        "q316_pq_audit",
        "q317_pq_recall_impact",
        "q318_document_chunking",
        "q319_chunk_contamination",
        "q320_packing_attention_audit",
        "q321_soft_dedup_weights",
        "q322_decontamination_cost",
        "q323_epoch_allocation",
        "q324_zipf_fit",
        "q325_ks_drift",
        # --- round 9 greens (CORRECTNESS_r09.json; 41 green rows, 11
        # rows-only `no_oracle` rows records excluded by definition;
        # q01/q42-q44/q50-q53/q80/q81/q89-q93/q98-q101/q123/q124/
        # q132-q134/q161/q163 re-proven, already listed) ---
        "q326_dataloader_order",
        "q327_manifest_maintenance",
        "q328_subword_tokenize",
        "q329_subword_packing",
        "q330_chunk_minhash_neardup",
        "q332_rag_retrieval_eval",
        "q333_partial_overlap_docs",
        "q334_epoch_token_accounting",
        "q335_manifest_touched_survivors",
        "q336_streaming_chunk_decontam",
        "q337_split_leakage_audit",
        "q338_vocab_coverage_audit",
        "q339_source_datacard",
        "q340_chunk_packing",
        # round-10 driver greens (CORRECTNESS_r10.json: 41 hash-green rows)
        "q341_ivf_probe_sweep",
        "q342_realized_mixture_audit",
        "q343_incremental_order_maintenance",
        "q344_training_artifact_manifest",
        "q345_chunk_subword_packing",
        "q346_incremental_artifact_publish",
        "q347_epoch_shuffle_decorrelation",
        "q348_packing_efficiency",
        "q349_attention_segment_audit",
        "q350_cluster_retention_report",
        "q351_checkpoint_resume_accounting",
        "q352_pq_rerank_sweep",
        "q353_dup_flow_matrix",
        "q354_curriculum_flatness",
        "q355_repetition_spectrum",
        "q356_bucket_batching_waste",
        "q357_stratified_eval_sample",
        "q358_shard_prefetch_locality",
        "q359_simhash_radius_calibration",
        "q360_vocab_ablation_sweep",
        "q361_streaming_repetition_spectrum",
        "q362_ann_stack_eval",
        "q363_incremental_dup_flow",
        "q364_eval_ngram_novelty",
        "q365_cluster_density_audit",
        "q366_embedding_cell_drift",
        "q367_token_mixture_audit",
        "q368_quality_calibration",
        "q369_dedup_threshold_sweep",
        "q370_packing_budget_sweep",
        "q371_truncation_loss_audit",
        "q372_attention_compute_audit",
        "q373_retrieval_source_bias",
        "q374_incremental_sample_maintenance",
        "q375_batch_accept_record",
        "q376_top_repeated_shingles",
        "q377_clamp_vs_chunk_paths",
        "q378_temperature_sweep",
        "q379_heldout_leak_rate",
        "q380_prefetch_working_set",
        "q381_release_datasheet_v2",
        # round-11 driver greens (CORRECTNESS_r11.json: 50 hash-green rows;
        # q01 re-proven, already listed)
        "q382_bpe_merge_induction",
        "q383_learned_vocab_fertility",
        "q384_incremental_ann_index",
        "q385_streaming_dup_flow",
        "q386_release_gate",
        "q387_salted_chunk_banding",
        "q388_ivf_probe_sweep_sampled",
        "q389_merge_depth_curve",
        "q390_streaming_ann_index",
        "q391_vocab_stability_delta",
        "q392_learned_vocab_packing",
        "q393_tokenizer_datasheet",
        "q394_vocab_cleaning_sensitivity",
        "q395_tokenizer_gate",
        "q396_ivf_ndcg_sweep",
        "q397_quality_survivor_election",
        "q398_token_budget_waterfill",
        "q399_attrition_funnel",
        "q400_shipping_plan_waterfill",
        "q401_attrition_by_source",
        "q402_gate_ablation_attribution",
        "q403_plan_realization",
        "q404_plan_realization_chunks",
        "q405_bm25_impact_pruning",
        "q406_ivf_ndcg_sweep_sampled",
        "q408_shipping_plan_gate",
        "q409_floored_waterfill",
        "q410_repeat_factor_plan",
        "q411_weighted_sample_noreplace",
        "q412_jl_distortion_audit",
        "q413_jl_retrieval_recall",
        "q414_interleave_runlength_audit",
        "q415_batch_mixing_entropy",
        "q416_replay_spacing_audit",
        "q417_compaction_plan",
        "q418_dataloader_gate",
        "q419_compaction_pruning_tradeoff",
        "q420_incremental_compaction",
        "q422_late_data_rewrite_cost",
        "q423_dup_exposure_audit",
        "q424_ivf_cell_rebalance",
        "q425_layout_gate",
        "q426_ann_index_datasheet",
        "q427_serving_config_selection",
        "q428_watermark_demand_audit",
        "q429_chunk_reassembly_fidelity",
        "q430_launch_gate",
        "q431_watermark_recommendation",
        "q432_multimodal_decode_arrow",
        # round-12 driver greens (CORRECTNESS_r12.json: 50 hash-green rows;
        # q01 re-proven, already listed)
        "q407_streaming_plan_realization",
        "q421_streaming_compaction",
        "q433_table_stats_collection",
        "q434_selectivity_estimation_audit",
        "q435_join_cardinality_qerror",
        "q436_broadcast_plan_decision",
        "q437_stats_staleness_audit",
        "q438_k_anonymity_audit",
        "q439_generalization_ladder",
        "q440_l_diversity_audit",
        "q441_privacy_release_gate",
        "q442_boolean_retrieval",
        "q443_time_travel_reads",
        "q444_vacuum_retention_audit",
        "q445_conjunction_selectivity_audit",
        "q446_commit_conflict_audit",
        "q447_streaming_table_stats",
        "q448_table_health_datasheet",
        "q449_t_closeness_audit",
        "q450_restore_plan",
        "q451_governance_gate",
        "q452_dp_noise_release_audit",
        "q453_streaming_cdc_apply",
        "q454_sort_key_selection",
        "q455_encoding_advisor",
        "q456_joint_histogram_estimation",
        "q457_join_order_selection",
        "q458_bloom_point_lookup_pricing",
        "q459_storage_advisor_datasheet",
        "q460_schema_evolution_read",
        "q461_write_audit_publish",
        "q462_joint_grid_join_order",
        "q463_streaming_asof_restore",
        "q464_schema_widening_read",
        "q465_rename_vs_add_audit",
        "q466_zorder_layout_pricing",
        "q467_deletion_vector_pricing",
        "q468_mv_lattice_selection",
        "q469_ivm_join_delta",
        "q470_runtime_filter_pricing",
        "q471_incremental_stats_maintenance",
        "q472_pii_scrub_audit",
        "q473_curriculum_stages",
        "q474_streaming_stats_maintenance",
        "q475_clustering_depth_metric",
        "q476_cache_admission_plan",
        "q477_int8_quantization_audit",
        "q478_physical_design_gate",
        "q479_erasure_compliance_audit",
        # round-13 driver greens (CORRECTNESS_r13.json: 50/50 hash-green
        # rows — q01 re-proven plus the deferred r12b/r12c families and
        # the round-13 window q506–q528).
        "q480_join_strategy_matrix",
        "q481_partition_granularity_advisor",
        "q482_file_count_sweep",
        "q483_streaming_erasure",
        "q484_hard_negative_mining",
        "q485_two_level_metadata_pruning",
        "q486_referential_integrity_audit",
        "q487_functional_dependency_discovery",
        "q488_join_elimination_advisor",
        "q489_optimizer_datasheet",
        "q490_ivm_retraction_delta",
        "q491_corrupt_record_quarantine",
        "q492_table_fingerprint",
        "q493_anti_entropy_localization",
        "q494_streaming_fingerprint",
        "q495_maintenance_scheduler",
        "q496_data_contract_card",
        "q497_bipartite_bfs",
        "q498_scd2_point_in_time_join",
        "q499_stratified_kfold",
        "q500_bootstrap_ci",
        "q501_streaming_pit_attribution",
        "q502_quantile_normalization",
        "q503_incremental_recluster_plan",
        "q504_market_basket_pairs",
        "q505_multi_touch_attribution",
        "q506_knn_graph_build_audit",
        "q507_graph_reachable_topk",
        "q508_graph_beam_recall_gate",
        "q509_graph_incremental_insert",
        "q510_recluster_plan_execution",
        "q511_streaming_attribution_retractions",
        "q512_range_join_binned",
        "q513_dyadic_decay_score",
        "q514_connected_components_oracled",
        "q515_sliding_window_distinct",
        "q516_skyline_pareto_front",
        "q517_prefix_filtered_jaccard_join",
        "q518_correlated_join_sampling",
        "q519_drift_monitor_psi_ks",
        "q520_lorenz_gini",
        "q521_dp_budget_ledger",
        "q522_streaming_sliding_distinct",
        "q523_weighted_quantiles",
        "q524_multistep_funnel_windows",
        "q525_bitemporal_lookup",
        "q526_markov_transition_matrix",
        "q527_grouped_ols_trend",
        "q528_result_cache_invalidation",
        # --- round 14 greens (CORRECTNESS_r14.json; 50/50 green
        # rows — q01 re-proven plus the entire r13-deferred backlog
        # q529–q575 and the first two r14 lanes q576–q577).
        "q529_dedup_cluster_canonicalization",
        "q530_seasonal_dow_index",
        "q531_robust_anomaly_mad",
        "q532_matryoshka_truncation_audit",
        "q533_class_reweighting_plan",
        "q534_streaming_drift_monitor",
        "q535_streaming_transitions",
        "q536_graph_index_datasheet",
        "q537_incremental_skyline",
        "q538_funnel_latency_percentiles",
        "q539_ab_test_proportions",
        "q540_kaplan_meier",
        "q541_ewma_backtest",
        "q542_eager_aggregation_rewrite",
        "q543_decorrelated_above_average",
        "q544_unigram_logprob_scoring",
        "q545_streaming_logprob_scoring",
        "q546_slo_burn_rate",
        "q547_rfm_segmentation",
        "q548_duplicate_payment_detection",
        "q549_benford_audit",
        "q550_abc_classification",
        "q551_ab_test_means",
        "q552_position_attribution",
        "q553_dsar_access_report",
        "q554_feature_store_materialization",
        "q555_train_serve_skew_audit",
        "q556_hot_key_detection",
        "q557_salted_join_equivalence",
        "q558_order_reconciliation",
        "q559_brand_affinity_matrix",
        "q560_grouped_boxplot_stats",
        "q561_process_conformance",
        "q562_top_event_paths",
        "q563_activity_heatmap",
        "q564_streaming_rfm",
        "q565_cohort_ltv_discounted",
        "q566_growth_accounting",
        "q567_dau_wau_stickiness",
        "q568_power_user_curve",
        "q569_seasonal_adjusted_anomaly",
        "q570_sorted_neighborhood_linkage",
        "q571_burst_detection",
        "q572_funnel_by_experiment_arm",
        "q573_streaming_growth_accounting",
        "q574_net_revenue_retention",
        "q575_session_statistics",
        "q576_streaming_graph_insert",
        "q577_maxsim_late_interaction",
        # --- round 15 greens (CORRECTNESS_r15.json; 50/50 green
        # rows — q01 re-proven plus the r14 deferred families
        # q578-q607 and the round-15 window q608-q626).
        "q578_maxsim_vs_pooled_eval",
        "q579_maxsim_ann_recall_gate",
        "q580_rrf_rank_fusion",
        "q581_pagerank_integer",
        "q582_safety_stock_reorder",
        "q583_streaming_maxsim_retrieval",
        "q584_pagerank_edge_delta",
        "q585_streaming_pagerank",
        "q586_revenue_bridge",
        "q587_backfill_plan",
        "q588_pinball_forecast_eval",
        "q589_diff_in_differences",
        "q590_concurrency_profile",
        "q591_group_dispersion_card",
        "q592_token_fertility",
        "q593_mann_whitney_u",
        "q594_streaming_backfill_monitor",
        "q595_knn_classifier_eval",
        "q596_cusum_change_detection",
        "q597_abc_xyz_matrix",
        "q598_streaming_safety_stock",
        "q599_kendall_tau",
        "q600_theil_index",
        "q601_theil_decomposition",
        "q602_spearman_rho",
        "q603_jain_fairness",
        "q604_hhi_concentration",
        "q605_streaming_revenue_bridge",
        "q606_streaming_knn_eval",
        "q607_exact_auc",
        "q608_exact_average_precision",
        "q609_brier_calibration",
        "q610_wilcoxon_signed_rank",
        "q611_kruskal_wallis",
        "q612_anova_oneway",
        "q613_partial_correlation",
        "q614_acf_lags",
        "q615_price_volume_mix",
        "q616_woe_information_value",
        "q617_target_encoding_audit",
        "q618_decision_stump",
        "q619_sssp_weighted",
        "q620_kcore_peeling",
        "q621_link_prediction",
        "q622_holt_linear_trend",
        "q623_naive_bayes_langid",
        "q624_label_propagation",
        "q625_cramers_v_matrix",
        "q626_precision_recall_curve",
        # --- round 16 greens (CORRECTNESS_r16.json; 50/50 green
        # rows — q01 re-proven plus the round-16 window q627-q675).
        "q627_streaming_sssp",
        "q628_streaming_average_precision",
        "q629_streaming_woe",
        "q630_streaming_holt",
        "q631_streaming_cramers_v",
        "q632_seasonal_decomposition",
        "q633_fellegi_sunter",
        "q634_critical_path",
        "q635_mean_excess_evt",
        "q636_price_elasticity",
        "q637_mcnemar_compare",
        "q638_cohens_kappa",
        "q639_clustering_coefficient",
        "q640_degree_assortativity",
        "q641_bartlett_test",
        "q642_newsvendor",
        "q643_mutual_information",
        "q644_heaps_law_fit",
        "q645_pacf_durbin_levinson",
        "q646_cuped_adjustment",
        "q647_nelson_aalen",
        "q648_logrank_test",
        "q649_eb_shrinkage",
        "q650_holt_winters_composed",
        "q651_streaming_newsvendor",
        "q652_streaming_eb_shrinkage",
        "q653_streaming_nelson_aalen",
        "q654_streaming_assortativity",
        "q655_streaming_kcore",
        "q656_streaming_mutual_information",
        "q657_ar2_backtest",
        "q658_semantic_decontamination",
        "q659_harmonic_centrality_sampled",
        "q660_logistic_irls",
        "q661_price_indices",
        "q662_gini_by_nation",
        "q663_js_divergence_by_source",
        "q664_zipf_slope",
        "q665_mann_kendall_trend",
        "q666_jarque_bera",
        "q667_process_capability",
        "q668_brown_forsythe",
        "q669_streaming_ar2_backtest",
        "q670_streaming_semantic_decontamination",
        "q671_streaming_harmonic_centrality",
        "q672_streaming_logistic_irls",
        "q673_streaming_js_divergence",
        "q674_streaming_mann_kendall",
        "q675_streaming_jarque_bera",
    }
)

# --- round 17 greens (CORRECTNESS_r17.json; every oracled row green —
# q01 plus 21 re-proven lanes and the round-17 window q676-q693; the 10
# no_oracle rows stay out).  Folded without a BUILD_ROUND bump, so the
# tiered parity sample keeps the draw the round opened with: these lanes
# leave the driver window now but keep running in the iteration gate
# until the next bump moves them into the set above.
_FOLDED_THIS_ROUND: frozenset[str] = frozenset(
    {
        "q676_streaming_brown_forsythe",
        "q677_ks_two_sample",
        "q678_friedman_test",
        "q679_cochran_q",
        "q680_psi_stability",
        "q681_streaming_ks_two_sample",
        "q682_streaming_friedman",
        "q683_streaming_cochran_q",
        "q684_streaming_psi",
        "q685_expected_calibration_error",
        "q686_gains_table",
        "q687_rmst",
        "q688_turning_points",
        "q689_runs_test",
        "q690_grubbs_screen",
        "q691_srm_guardrail",
        "q692_streaming_turning_points",
        "q693_streaming_runs_test",
    }
)
_DRIVER_VERIFIED |= _FOLDED_THIS_ROUND


def _reorder() -> None:
    """Rebuild QUERIES so unverified queries occupy the driver window.

    Priority: q01 smoke first, then oracled queries with no driver
    correctness row yet (own-oracle lanes ahead of twins that REGISTER
    another lane's oracle — a twin's SQL is verified through its
    primary, so when the window overflows the displaced entries should
    be twins, not capstones), then rows-only queries with none, then
    the already-verified remainder. Ties keep registration order.
    """

    seen_oracles: set[str] = set()
    twin: set[str] = set()
    for name, qdef in QUERIES.items():
        if qdef.oracle is None:
            continue
        if qdef.oracle in seen_oracles:
            twin.add(name)
        else:
            seen_oracles.add(qdef.oracle)

    def rank(item: tuple[str, QueryDef]) -> tuple[int, int]:
        name, qdef = item
        if name == "q01_revenue_by_nation":
            return (0, 0)
        if name not in _DRIVER_VERIFIED:
            if qdef.oracle is not None:
                if qdef.defer:
                    return (1, 2)
                return (1, 1 if name in twin else 0)
            return (2, 0)
        return (3, 0)

    ordered = sorted(QUERIES.items(), key=rank)  # stable sort
    QUERIES.clear()
    QUERIES.update(ordered)


def _load() -> None:
    """Import all query modules (self-registering), then order for the driver.

    Imports are strict: every module below ships in-repo, so an ImportError
    is a real defect that must surface, not silently shrink the graded
    query surface.
    """
    global _loaded
    if _loaded:
        return
    import databricks_etl_spark.plans.queries_analytics  # noqa: F401
    import databricks_etl_spark.plans.queries_dedup  # noqa: F401
    import databricks_etl_spark.plans.queries_events  # noqa: F401
    import databricks_etl_spark.plans.queries_extended  # noqa: F401
    import databricks_etl_spark.plans.queries_ml  # noqa: F401
    import databricks_etl_spark.plans.queries_multimodal  # noqa: F401
    import databricks_etl_spark.plans.queries_olap  # noqa: F401
    import databricks_etl_spark.plans.queries_profile  # noqa: F401
    import databricks_etl_spark.plans.queries_relational  # noqa: F401
    import databricks_etl_spark.plans.queries_similarity  # noqa: F401
    import databricks_etl_spark.plans.queries_text  # noqa: F401
    import databricks_etl_spark.plans.queries_timeseries  # noqa: F401
    # round-2+ modules import AFTER the round-1 set: stable rank sort then
    # keeps older unverified queries ahead of brand-new ones in the
    # driver's 50-entry window (verify oldest claims first)
    import databricks_etl_spark.plans.queries_tpch  # noqa: F401
    import databricks_etl_spark.plans.queries_breadth  # noqa: F401
    import databricks_etl_spark.plans.queries_sampling  # noqa: F401
    import databricks_etl_spark.plans.queries_llmprep  # noqa: F401
    # round-3 modules
    import databricks_etl_spark.plans.queries_scale  # noqa: F401
    import databricks_etl_spark.plans.queries_corpus  # noqa: F401
    # round-4 modules
    import databricks_etl_spark.plans.queries_round4  # noqa: F401
    import databricks_etl_spark.plans.queries_round4b  # noqa: F401
    # round-5 modules
    import databricks_etl_spark.plans.queries_round5  # noqa: F401
    import databricks_etl_spark.plans.queries_round5b  # noqa: F401
    import databricks_etl_spark.plans.queries_round5c  # noqa: F401
    # round-6 modules
    import databricks_etl_spark.plans.queries_round6  # noqa: F401
    # round-7 modules
    import databricks_etl_spark.plans.queries_round7  # noqa: F401
    # round-8 modules
    import databricks_etl_spark.plans.queries_round8  # noqa: F401
    # round-9 modules
    import databricks_etl_spark.plans.queries_round9  # noqa: F401
    # round-10 modules
    import databricks_etl_spark.plans.queries_round10  # noqa: F401
    # round-11 modules
    import databricks_etl_spark.plans.queries_round11  # noqa: F401
    import databricks_etl_spark.plans.queries_round11b  # noqa: F401
    # round-12 modules
    import databricks_etl_spark.plans.queries_round12  # noqa: F401
    # round-13 modules
    import databricks_etl_spark.plans.queries_round13  # noqa: F401
    # round-14 modules
    import databricks_etl_spark.plans.queries_round14  # noqa: F401
    # round-15 modules
    import databricks_etl_spark.plans.queries_round15  # noqa: F401
    # round-16 modules
    import databricks_etl_spark.plans.queries_round16  # noqa: F401

    assert len(QUERIES) >= 691, (
        f"query registry shrank: {len(QUERIES)} < 691 — a module failed to register"
    )
    _reorder()
    _loaded = True
