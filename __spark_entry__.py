"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship insights pipeline at sf0.001;
`queries()` / `oracle_sql()` expose the declared query library
(SURVEY.md §2.12 Q1-Q22 plus the north-star LLM-pipeline operators) for the
driver's DuckDB differential harness. Queries without an oracle entry are
approximate/non-SQL operators (MinHash/SimHash/LSH-ANN/forecast) checked
rows-only by the driver and semantically by `tests/`.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eurostat_energy_etl_pipeline_spark import plans
from eurostat_energy_etl_pipeline_spark.plans import ORACLE, QUERIES

plans.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full insights table
    (the reference's knowledge-base build as one Spark plan)."""
    from eurostat_energy_etl_pipeline_spark.plans.insights import insights_table

    return insights_table(spark, "/root/testdata/sf0.001")


# Driver-coverage rotation (VERDICT r3 item 6): the driver correctness
# harness samples the FIRST 50 registry entries, so iteration order decides
# which oracles it exercises. Order = last-driver-checked round ascending
# (union of CORRECTNESS_r01..r07), never-checked entries first, name as the
# tiebreak — regenerated each round by scripts in this repo's workflow.
# Names and callables are unchanged — only dict order.
_DRIVER_CHECK_PRIORITY = [
    # last driver-checked in round 10
    "q149_new_vs_returning",
    "q14_join_agg",
    "q150_classifier_eval",
    "q151_ab_test",
    "q152_ivm_merge",
    "q153_decayed_leaderboard",
    "q154_column_profile",
    "q155_rfm_segments",
    "q15_left_join_coalesce",
    "q16_left_semi",
    "q17_insights_trend",
    "q89_bpe_pair_stats",
    "q90_trailing_burst",
    "q91_kmeans_update",
    "q92_dup_span_coverage",
    "q93_bpe_train",
    "q94_char_entropy",
    "q95_cube_grouping",
    "q96_vocab_coverage",
    "q_events_asof_join",
    "q_events_sessionize",
    "q_events_sliding",
    "q_events_tumbling",
    "q_events_type_stats",
    "q_stream_markov",
    # last driver-checked in round 11
    "q156_substring_cut",
    "q157_substring_cut_audit",
    "q158_media_signatures",
    "q159_media_dedup",
    "q160_ivf_merge_probe",
    "q161_media_quality",
    "q162_tfidf_keywords",
    "q163_media_dedup_apply",
    "q164_postings_merge_probe",
    "q165_cusum_changepoint",
    "q166_seasonal_decompose",
    "q167_survival_km",
    "q168_skyline",
    "q169_zorder_layout",
    "q170_phrase_search",
    "q171_text_normalize",
    "q172_label_propagation",
    "q173_fs_linkage",
    "q174_pii_redact",
    "q175_hll_rolling",
    "q176_peak_concurrency",
    "q177_activity_bitmaps",
    "q178_scd2_merge",
    "q179_window_funnel",
    "q17b_insights_full",
    "q180_ohlc_resample",
    "q181_diff_in_diff",
    "q182_item_item_cf",
    "q183_budget_selection",
    "q184_multi_touch",
    "q18_fastest_rising",
    "q19_dedup_exact",
    "q20_text_stats",
    "q21_word_count",
    "q22_embedding_topk",
    "q23_dedup_hash_groups",
    "q24_ngram_jaccard",
    "q25_minhash_lsh_pairs",
    "q26_simhash_pairs",
    "q27_fingerprint",
    "q31_embedding_neardup",
    "q32_lsh_ann",
    "q33_multimodal_features",
    "q35_forecast",
    "q36_tfidf_search",
    "q37_ivf_ann",
    "q74_forecast_features",
    "q75_bm25_search",
    "q76_length_histogram",
    "q_stream_hll",
    # last driver-checked in round 12
    "q105_triangle_count",
    "q106_pit_attribution",
    "q107_prefix_jaccard_join",
    "q108_linear_gd",
    "q109_rank_distribution",
    "q110_dedup_apply",
    "q111_index_maintenance",
    "q112_keyword_extract",
    "q113_cms_audit",
    "q114_edit_distance_join",
    "q115_pipeline",
    "q116_kmv_audit",
    "q117_snapshot_diff",
    "q118_path_mining",
    "q119_quantile_normalize",
    "q120_negative_sampling",
    "q121_share_of_total",
    "q185_curation_funnel",
    "q186_media_clusters",
    "q187_leakage_safe_split",
    "q188_decontamination_profile",
    "q189_khop_reach",
    "q190_zonemap_pruning",
    "q191_cf_backtest",
    "q28_lang_id",
    "q29_token_stats",
    "q30_quality_buckets",
    "q34_media_meta",
    "q38_set_ops",
    "q39_frame_sample",
    "q40_rollup",
    "q41_approx_distinct",
    "q42_stats_agg",
    "q43_join_chain",
    "q44_like_scan",
    "q45_dedup_clusters",
    "q46_range_join",
    "q47_hash_sample",
    "q48_stratified_cap",
    "q78_vocab_topk",
    "q80_ivf_sq8_ann",
    "q81_rolling_dau",
    "q82_bigram_lm_score",
    "q88_knn_join_lsh",
    "q97_semantic_dedup",
    "q98_bpe_encode",
    "q99_pagerank",
    "q_stream_scd2",
    "q_stream_sessionize",
    "q_stream_tumbling",
    # last driver-checked in round 13
    "q122_pmi_collocations",
    "q123_benford_audit",
    "q124_interarrival_stats",
    "q125_novelty_rate",
    "q126_centroid_similarity",
    "q127_pca_power",
    "q128_kmv_set_ops",
    "q129_mad_outliers",
    "q130_ks_drift",
    "q131_gini_concentration",
    "q132_sorted_neighborhood",
    "q133_basket_pairs",
    "q134_twap",
    "q135_weighted_quantiles",
    "q136_hll_audit",
    "q137_truncation_audit",
    "q138_bloom_join",
    "q139_table_checksum",
    "q140_chi_square",
    "q192_incremental_funnel",
    "q193_media_funnel",
    "q194_source_containment",
    "q195_incremental_media",
    "q49_sequence_pack",
    "q50_doc_chunks",
    "q51_pii_scan",
    "q52_decontaminate",
    "q53_quality_deciles",
    "q54_token_percentiles",
    "q55_label_cohesion",
    "q56_tombstone_delete",
    "q57_mixture_weights",
    "q58_repetition_ratio",
    "q59_cross_source_overlap",
    "q69_salted_join_agg",
    "q77_anomaly_zscore",
    "q84_shipping_revenue",
    "q86_join_skew_profile",
    "q_dash_between_top10",
    "q_dash_country_series",
    "q_dash_domains",
    "q_dash_heatmap",
    "q_dash_pivot_types",
    "q_dash_top10_latest",
    "q_dash_year_range",
    "q_dq_probes",
    "q_stream_attribution",
    "q_stream_dedup",
    "q_stream_running_totals",
    "q_stream_screen",
    # last driver-checked in round 14
    "q01_filter_project",
    "q02_in_list",
    "q03_distinct_notnull",
    "q04_union_all",
    "q05_year_extract",
    "q06_topk_avg",
    "q07_topk_sum",
    "q08_latest_period",
    "q09_between",
    "q100_weighted_sample",
    "q101_state_history",
    "q102_heldout_lm",
    "q103_drift_psi",
    "q104_ri_audit",
    "q10_pivot_conditional",
    "q11_lag",
    "q12_rolling_mean",
    "q13_row_number",
    "q141_substring_dedup",
    "q142_locf_gap_fill",
    "q143_markov_transitions",
    "q144_winnowing",
    "q145_repetition_filters",
    "q146_mutual_information",
    "q148_rank_fusion",
    "q196_multitick_funnel",
    "q197_deletion_fold",
    "q198_incremental_containment",
    "q199_multitick_media",
    "q200_lifecycle_fold",
    "q60_global_ids",
    "q61_canonical_docs",
    "q62_json_props",
    "q63_incremental_dedup",
    "q64_funnel",
    "q65_retention",
    "q66_rare_word_filter",
    "q67_cluster_canonical",
    "q68_topk_per_group",
    "q70_dataset_split",
    "q71_jsonstat_decode",
    "q72_source_audit",
    "q73_mixture_sample",
    "q79_quantize_audit",
    "q83_crossmodal_audit",
    "q85_median_bridge",
    "q87_knn_join_exact",
    "q_stream_cms",
    "q_stream_enrich",
    "q_stream_sliding",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so the
    least-recently-driver-checked entries surface first (see
    _DRIVER_CHECK_PRIORITY)."""
    out = dict(QUERIES)
    # Non-SQL pipelines registered lazily to keep import cheap.
    from eurostat_energy_etl_pipeline_spark.ml.forecast import forecast_query
    from eurostat_energy_etl_pipeline_spark.rag.bm25 import bm25_search_query
    from eurostat_energy_etl_pipeline_spark.rag.tfidf import tfidf_search_query

    out["q35_forecast"] = forecast_query
    out["q36_tfidf_search"] = tfidf_search_query
    out["q75_bm25_search"] = bm25_search_query
    ordered = {k: out[k] for k in _DRIVER_CHECK_PRIORITY if k in out}
    ordered.update({k: v for k, v in out.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    from eurostat_energy_etl_pipeline_spark.rag.bm25 import bm25_oracle_sql
    from eurostat_energy_etl_pipeline_spark.rag.tfidf import tfidf_oracle_sql

    out = dict(ORACLE)
    out["q36_tfidf_search"] = tfidf_oracle_sql()
    out["q75_bm25_search"] = bm25_oracle_sql()
    return out
