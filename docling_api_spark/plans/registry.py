"""Registry of the declared query surface (SURVEY.md §2.9).

Each entry pairs a Spark DataFrame builder `fn(spark, sf_dir) -> DataFrame`
with an optional ANSI-SQL oracle string runnable by DuckDB over the same
parquet tables. The driver's correctness gate executes both and compares
row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- float aggregates go through exact DECIMAL casts (functions.numeric);
- timestamps are emitted as epoch integers or formatted strings, never as
  raw timestamp columns (engine display formats differ).

Queries with `oracle=None` are genuinely non-SQL-expressible (approx
sketches, LSH, pipeline UDFs) and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    description: str = ""
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py's headline set


QUERIES: dict[str, Query] = {}

# EXACT names of queries whose fn() EXECUTES work when the plan is built
# (streaming drains, eager localCheckpoints, checkpointed dedup ladders,
# heavyweight UDF paths). Planning-only tooling (tools/plan_report.py) and
# the static plan audit (tests/test_global_plan_audit.py) must both skip
# these — shared here so the two lists can't drift. Exact names, not
# prefixes (VERDICT r7 Next #5): a prefix match like "q43" would silently
# sweep a future q430 out of the plan audit; tests assert every listed
# name exists in the registry.
#
# The quantile helpers' probe (r10) is the one sanctioned EXCEPTION to
# "plan-build runs no jobs": building a quantile caller launches ONE
# bounded probe (a limit(100k) sample aggregate; where the probe input
# is a lazy localCheckpoint, its materialization is shared with the
# query's own first execution in the same build) and memoizes its
# findings per (query, sf_dir). That is deliberately NOT grounds for
# EXECUTING_QUERIES membership: this list exists for builds that run
# the FULL query (or unbounded work), and sweeping the 11 quantile
# callers out of the plan audit would cost exactly the coverage the
# audit exists for. plan_report/test_global_plan_audit tolerate the
# probe by construction (it completes in milliseconds at their scale).
EXECUTING_QUERIES: frozenset[str] = frozenset((
    # streaming drains
    "q36_streaming_tumbling",
    "q37_streaming_sessionize",
    "q56_streaming_dedup",
    "q77_streaming_sliding",
    "q107_stream_static_join",
    "q109_stream_stream_join",
    "q137_streaming_upsert",
    "q151_stateful_counter",
    "q183_streaming_topk",
    # eager checkpoints / scalar-state collects
    "q103_khop_reachability",
    "q139_tfidf_cosine_pairs",
    "q152_pagerank",
    "q174_density_clusters",
    "q189_bpe_merges",
    "q191_shortest_path",
    "q194_kmeans_lloyd",
    "q202_bpe_encode",
    # checkpointed dedup/peel/graph ladders
    "q43_minhash_lsh",
    "q43_minhash_lsh_xxh",
    "q45_dedup_clusters",
    "q57_incremental_dedup",
    "q208_entity_resolution",
    "q236_kcore_peel",
    "q250_link_prediction",
    # vocabulary-bounded edge collect (driver union-find / power rounds)
    "q293_hub_removal_impact",
    "q299_stationary_distribution",
    # conversion / media UDF paths
    "q72_conversion_pipeline",
    "q80_media_features",
    "q82_media_resize",
))


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder under `name`."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            description=(fn.__doc__ or "").strip().splitlines()[0] if fn.__doc__ else "",
            tags=tags,
            bench=bench,
        )
        return fn

    return deco


# The driver grades only the FIRST 50 registry entries (round-1 lesson:
# CORRECTNESS_r01 was exactly the first 50 in module-import order, leaving
# every timeseries and textstats query ungraded). GRADED_FIRST pins an
# explicit order: the 50 queries that must land inside the correctness
# window come first.
#
# Since round 9 the window is COMPOSED MECHANICALLY by the steady-state
# policy in tools/compose_window.py (VERDICT r8 Next #7): never-graded
# queries first, then stale grades (tools/stale_grades.py — the
# implementing closure changed after the round that graded them) oldest
# grade first, then remaining slots by grade age. Rotate with
#
#     python tools/compose_window.py --update
#
# which rewrites the tuple below and the constant beside it; the policy
# test (tests/test_registry_order.py) recomputes the composition and
# fails if this file drifts from it. The round-9 window drains the final
# 29-entry stale queue (28 loader-stale r1/r2 grades + q72, whose
# formats/converter closure drifted substantively since its r1 rows-only
# record — the ADVICE r8 call-out) plus the 6 callers of the grouped
# quantile helper flipped to raw-row ranking this round, and spends the
# 15 spare slots on the oldest (r3) grades, all oracle-checked (the
# filler tier prefers hash-comparable slots). Two windowed queries
# re-cert rows-only BY DESIGN — q72 (conversion pipeline, no SQL oracle)
# and q23 (approx sketches) — because tiers 1-2 re-certify stale grades
# unconditionally, whatever the strength of their check. The surface
# stays FROZEN at 307 (VERDICT r8 Next #4).

# The round this window was composed FOR: only CORRECTNESS records from
# rounds BELOW this feed the policy, so the composition stays
# reproducible after this round's own record lands. Maintained by
# tools/compose_window.py --update.
WINDOW_COMPOSED_FOR_ROUND: int = 16
GRADED_FIRST: tuple[str, ...] = (
    # ---- round-16 driver window (50), policy-composed ----
    "q09_correlated_exists",
    "q104_snapshot_diff",
    "q106_heavy_hitters",
    "q109_stream_stream_join",
    "q10_agg_distinct",
    "q110_interval_overlap_join",
    "q11_rollup",
    "q120_ab_test_ztest",
    "q12_cube",
    "q13_grouping_sets",
    "q14_window_topk_per_group",
    "q15_window_lag_lead",
    "q16_window_frames",
    "q17_topk_global",
    "q18_set_ops",
    "q19_pivot",
    "q20_string_funcs",
    "q22_math_json_funcs",
    "q23_approx_aggs",
    "q25_explode_wordcount",
    "q26_conditional_agg",
    "q28_shipping_priority",
    "q30_tumbling_window",
    "q41_dedup_per_group",
    "q46_unpivot",
    "q52_knn_label_vote",
    "q53_embedding_neardup",
    "q61_token_stats",
    "q62_quality_score",
    "q65_doc_fingerprint",
    "q91_hash_sample",
    "q92_stratified_sample",
    "q93_weighted_mix",
    "q96_histogram",
    "q100_chunk_documents",
    "q101_ks_drift",
    "q107_stream_static_join",
    "q111_text_normalize",
    "q113_bigram_familiarity",
    "q116_seasonal_anomaly",
    "q119_cusum_changepoint",
    "q122_interarrival_histogram",
    "q124_chi_square",
    "q125_impute_group_mean",
    "q151_stateful_counter",
    "q175_debounce",
    "q246_isotonic_calibration",
    "q251_lcs_verify",
    "q32_session_window",
    "q33_asof_join",
    # ---- tail: prior tuple order (ex-window members lead) ----
    "q285_quadratic_response",
    "q103_khop_reachability",
    "q105_funnel_steps",
    "q108_bloom_semi_join",
    "q112_inverted_index",
    "q115_time_weighted_avg",
    "q117_comovement_matrix",
    "q123_market_basket",
    "q138_scd2_point_in_time",
    "q152_pagerank",
    "q21_date_funcs",
    "q221_poisson_bootstrap",
    "q27_array_agg",
    "q286_negbin_fit",
    "q287_multiple_testing",
    "q288_ltv_projection",
    "q289_double_fire_detector",
    "q290_fairness_audit",
    "q291_frequency_capping",
    "q292_neyman_allocation",
    "q293_hub_removal_impact",
    "q294_redaction_impact",
    "q295_minhash_audience",
    "q298_reciprocal_best",
    "q299_stationary_distribution",
    "q29_large_orders",
    "q300_class_silhouette",
    "q301_vocab_growth",
    "q302_learned_index_audit",
    "q303_cdc_chunking",
    "q304_dominant_period",
    "q305_interim_looks",
    "q306_effective_sample_size",
    "q31_sliding_window",
    "q34_funnel_range_join",
    "q39_gap_fill_resample",
    "q42_ngram_jaccard",
    "q45_dedup_clusters",
    "q71_upload_validation",
    "q81_frame_sample",
    "q88_collocations_pmi",
    "q94_merge_upsert",
    "q01_pricing_summary",
    "q02_filter_project",
    "q03_broadcast_dim_join",
    "q04_multiway_join_revenue",
    "q05_semi_join",
    "q06_anti_join",
    "q07_outer_join",
    "q08_scalar_subquery",
    "q63_tfidf_top_terms",
    "q72_conversion_pipeline",
    "q43_minhash_lsh_xxh",
    "q232_stratified_att",
    "q233_count_min_sketch",
    "q234_slo_burn_alerts",
    "q235_ngram_novelty",
    "q236_kcore_peel",
    "q237_rank_biased_overlap",
    "q238_beta_binomial",
    "q239_burstiness",
    "q242_binary_segmentation",
    "q243_simpson_diversity",
    "q244_peak_detection",
    "q245_selectivity_audit",
    "q247_text_tiling",
    "q248_forecast_reconcile",
    "q249_rolling_regression",
    "q250_link_prediction",
    "q252_expected_calibration_error",
    "q253_spearman_rank_corr",
    "q254_partial_correlation",
    "q255_qini_uplift",
    "q256_rolling_origin_backtest",
    "q258_range_partition_planner",
    "q259_arc_elasticity",
    "q260_markov_baseline_accuracy",
    "q261_kruskal_wallis",
    "q262_power_analysis",
    "q263_jackknife_ratio_variance",
    "q264_source_vocab_overlap",
    "q265_james_stein_shrinkage",
    "q266_hysteresis_alerts",
    "q267_l_diversity",
    "q268_gini_stump",
    "q269_viterbi_path",
    "q270_capture_recapture",
    "q271_truncation_recall",
    "q272_revenue_proration",
    "q273_token_budget_selection",
    "q274_nearest_centroid",
    "q275_factorial_experiment",
    "q276_burrows_delta",
    "q277_reserve_price_curve",
    "q278_ngram_coverage",
    "q279_regression_discontinuity",
    "q280_consistent_hashing",
    "q281_media_content_dedup",
    "q282_media_stride_signature",
    "q283_cohen_kappa",
    "q284_weighted_jaccard",
    "q240_compression_ratio",
    "q184_survival_hazard",
    "q185_triangle_census",
    "q186_geo_grid_join",
    "q187_ewma_smoothing",
    "q188_lag1_autocorr",
    "q189_bpe_merges",
    "q77_streaming_sliding",
    "q99_corpus_report",
    "q190_phrase_search",
    "q191_shortest_path",
    "q192_forecast_wape",
    "q193_rolling_distinct",
    "q194_kmeans_lloyd",
    "q195_decile_migration",
    "q196_hybrid_rank_fusion",
    "q197_bm25_scoring",
    "q198_ancestor_rollup",
    "q199_item_item_cf",
    "q200_kwic_snippets",
    "q201_allen_relations",
    "q202_bpe_encode",
    "q203_negative_sampling",
    "q204_gram_matrix",
    "q205_mahalanobis_outliers",
    "q206_gdpr_cascade",
    "q207_decayed_leaderboard",
    "q208_entity_resolution",
    "q209_ann_recall",
    "q210_calibration_curve",
    "q211_rake_keyphrases",
    "q212_nation_modularity",
    "q213_churn_features",
    "q214_partition_advisor",
    "q215_queue_depth",
    "q216_pca2d",
    "q217_hellinger_drift",
    "q218_ndcg_ranking",
    "q219_haar_downsample",
    "q220_raking_ipf",
    "q222_degree_assortativity",
    "q223_stl_decompose",
    "q224_sax_symbols",
    "q225_markov_absorption",
    "q226_emd_regions",
    "q228_geometric_median",
    "q229_bitmap_intersect",
    "q230_lagged_xcorr",
    "q231_diff_in_diff",
    "q102_revenue_concentration",
    "q114_winsorized_agg",
    "q118_equidepth_histogram",
    "q121_rfm_segmentation",
    "q158_median_mad_outliers",
    "q162_lift_table",
    "q227_conformal_interval",
    "q241_quantile_treatment_effect",
    "q24_percentiles_exact",
    "q296_watermark_advisor",
    "q297_mean_excess",
    "q80_media_features",
    "q171_hll_rollup",
    "q142_bounce_rate",
    "q143_promo_share",
    "q144_part_supplier_stats",
    "q145_idle_rich_customers",
    "q146_dup_provenance",
    "q147_supplier_cold_start",
    "q148_denorm_drift_audit",
    "q149_activation_latency",
    "q150_order_size_histogram",
    "q153_benford_digit_audit",
    "q154_source_quality_rollup",
    "q155_ngram_containment",
    "q156_expectation_suite",
    "q157_ohlc_bars",
    "q159_embedding_quantization",
    "q160_weighted_median",
    "q161_theil_sen_trend",
    "q163_proportional_sample",
    "q164_mannwhitney_u",
    "q165_gini_revenue",
    "q166_power_iteration",
    "q167_salt_planner",
    "q168_eventually_follows",
    "q169_weighted_sample",
    "q170_revenue_waterfall",
    "q172_salted_join",
    "q173_k_anonymity",
    "q174_density_clusters",
    "q176_feature_hashing",
    "q177_target_encoding",
    "q178_confusion_matrix",
    "q179_quantile_normalize",
    "q180_control_chart",
    "q181_join_size_estimate",
    "q182_cuped_adjustment",
    "q183_streaming_topk",
    "q257_dtw_distance",
    "q70_format_classify",
    "q118_approx_equidepth",
    "q126_skyline",
    "q127_group_regression",
    "q128_rolling_median",
    "q129_fk_audit",
    "q130_ratio_to_parent",
    "q131_audience_overlap",
    "q132_grouped_mode",
    "q136_sampling_error_audit",
    "q137_streaming_upsert",
    "q139_tfidf_cosine_pairs",
    "q140_composition_drift",
    "q141_covariance_matrix",
    "q48_fuzzy_match_parts",
    "q49_rolling_zscore",
    "q55_embedding_drift",
    "q56_streaming_dedup",
    "q57_incremental_dedup",
    "q58_incremental_rollup",
    "q59_zorder_layout",
    "q73_sequence_packing",
    "q74_curriculum_buckets",
    "q75_span_dedup_fraction",
    "q76_leakage_safe_split",
    "q78_vocab_coverage",
    "q79_embedding_outliers",
    "q83_join_key_skew",
    "q84_state_intervals",
    "q85_event_transitions",
    "q86_click_attribution",
    "q87_growth_accounting",
    "q89_top_paths",
    "q98_source_lang_purity",
    "q134_curation_pipeline",
    "q135_sla_shipping_delay",
    "q35_bucketed_range_join",
    "q36_streaming_tumbling",
    "q37_streaming_sessionize",
    "q38_salted_skew_agg",
    "q40_dedup_exact",
    "q43_minhash_lsh",
    "q44_simhash",
    "q47_retention_cohorts",
    "q50_cosine_topk",
    "q51_ann_lsh",
    "q54_ann_ivf",
    "q60_lang_breakdown",
    "q64_lang_id",
    "q66_regex_token_count",
    "q67_pii_redaction",
    "q68_repetition_filter",
    "q69_contamination_check",
    "q82_media_resize",
    "q90_profile_orders",
    "q95_temperature_mix",
    "q97_paragraph_dedup",
)


def all_queries() -> dict[str, Query]:
    """Import every operator module (populating QUERIES) and return the
    registry ordered by GRADED_FIRST (unknown names keep insertion order at
    the tail, defensively)."""
    # Imports are deferred so `plans` can be imported without pulling pyspark
    # operator modules at module-import time in tooling contexts.
    from docling_api_spark.operators import (  # noqa: F401
        analytics,
        datapipe,
        dedup,
        entity,
        graphops,
        layout,
        multimodal,
        pipeline_queries,
        quality,
        reconcile,
        relational,
        sampling,
        similarity,
        spatial,
        subqueries,
        textstats,
        timeseries,
    )

    rank = {name: i for i, name in enumerate(GRADED_FIRST)}
    ordered = sorted(
        QUERIES.items(), key=lambda kv: (rank.get(kv[0], len(rank)),)
    )
    return dict(ordered)
