"""Repo-wide physical-plan audit: every registered query is screened for
the two classic scale-killers —

1. CartesianProduct anywhere (an accidental cross join is quadratic at
   100 TB; the engine's only intentional cross joins are single-row
   broadcast lookups, which plan as BroadcastNestedLoopJoin, not
   CartesianProduct);
2. unexpected SinglePartition exchanges (a global window/sort dragging
   the FULL relation through one task — the round-1 q72 failure mode).
   Scalar aggregates and tiny-stat relations legitimately reduce to one
   partition; the allowance table pins each query's expected count so a
   refactor that ADDS one fails loudly.

Streaming drains and eager-materializing queries are exercised elsewhere
(their fn() runs work, not just planning) and are skipped here.
"""

from __future__ import annotations

import pytest

from docling_api_spark.plans import all_queries
from tests.test_plans import plan_of

QUERIES = all_queries()

# queries whose fn() executes work (streaming drains, eager checkpoints,
# heavyweight UDF paths) — planned-and-run in their own tests; the list
# lives in the registry so tools/plan_report.py skips the same set
from docling_api_spark.plans.registry import EXECUTING_QUERIES as _EXECUTING

# legitimate SinglePartition exchanges: scalar aggregates / tiny stat
# relations (cut points, global totals, per-check counts)
_SP_ALLOWED = {
    "q95_temperature_mix": 1,
    "q106_heavy_hitters": 1,      # corpus token total
    "q108_bloom_semi_join": 1,    # one-row bloom map
    "q118_equidepth_histogram": 3,  # block-prefix window (~100-row block
    # table) + 15-row cut assembly + total scalar — never the data (the
    # exact cuts are a distributed blocked-rank selection, q302 idiom)
    "q118_approx_equidepth": 1,     # 15-row sketch cuts
    "q120_ab_test_ztest": 1,      # 4-integer scalar reduce
    "q90_profile_orders": 1,
    "q08_scalar_subquery": 1,
    "q55_embedding_drift": 1,     # global centroid
    "q63_tfidf_top_terms": 1,     # 1-row n_docs scalar agg (r15: was an
    # eager .count() driver action; folded into the plan per VERDICT r14)
    "q83_join_key_skew": 1,
    "q87_growth_accounting": 1,
    "q88_collocations_pmi": 2,    # unigram + bigram totals
    "q99_corpus_report": 2,       # one-row report card
    "q102_revenue_concentration": 4,  # blocked-rank threshold selection
    # (block prefix + 2-row cut assembly) + 1-row base stats + stitch —
    # never the customer data (q118 idiom)
    "q121_rfm_segmentation": 3,   # global max date + 2-cut × 3-metric agg
    "q123_market_basket": 1,      # order-count scalar
    "q124_chi_square": 2,         # global window + final one-row agg
    "q126_skyline": 2,            # size-domain prefix-min + candidate bcast
    "q129_fk_audit": 6,           # six labeled scalar counts
    "q130_ratio_to_parent": 1,    # 25-row global-share window
    "q134_curation_pipeline": 0,
    "q136_sampling_error_audit": 2,  # population + sample scalar reduces
    "q147_supplier_cold_start": 1,  # one-row shipping-horizon scalar
    "q153_benford_digit_audit": 1,  # one-row digit-count total
    "q156_expectation_suite": 6,    # six labeled scalar contract checks
    "q150_order_size_histogram": 1,  # cumulative window over ~13 size rows
    "q162_lift_table": 4,         # cuts agg + totals agg + 10-row window chain
    "q163_proportional_sample": 4,  # target/shortfall scalars + strata window
    "q164_mannwhitney_u": 1,      # cumulative window over the value-domain relation
    "q166_power_iteration": 5,    # 2× max|w| scalar + vector reassembly aggs
    "q169_weighted_sample": 1,    # corpus-max scalar broadcast
    "q173_k_anonymity": 1,        # corpus-k scalar broadcast
    "q177_target_encoding": 1,    # global-mean scalar broadcast
    "q179_quantile_normalize": 3,  # pool-count scalar + pooled-cum + merge windows
    "q181_join_size_estimate": 9,  # 3 audits × (2 size scalars + 1 product-sum)
    "q182_cuped_adjustment": 1,   # pooled-moment scalar broadcast
    "q184_survival_hazard": 4,    # dataset-max + total scalars + duration windows
    "q185_triangle_census": 3,    # support-median scalar under each edge alias
    "q193_rolling_distinct": 1,   # corpus-max-day scalar broadcast
    "q195_decile_migration": 2,   # year-bound scalar under both join aliases
    "q196_hybrid_rank_fusion": 1,  # pool-sized rank windows + corpus scalar
    "q197_bm25_scoring": 1,       # matched-docs rank window (posting-sized)
    "q203_negative_sampling": 1,  # item-count scalar broadcast
    "q206_gdpr_cascade": 4,       # four one-row per-table audit reduces
    "q207_decayed_leaderboard": 1,  # max-date scalar broadcast
    "q210_calibration_curve": 2,  # customer-rank window + year scalar
    "q212_nation_modularity": 2,  # edge-count scalar + 25-row global total
    "q213_churn_features": 2,     # cutoff scalar under both fact aliases
    "q216_pca2d": 1,              # six-moment scalar reduce (one row)
    "q217_hellinger_drift": 1,    # corpus-total scalar broadcast
    "q219_haar_downsample": 4,    # date-bounds scalar under days+rev aliases
    "q221_poisson_bootstrap": 2,  # 32-row CI rank window + full-mean scalar
    "q222_degree_assortativity": 10,  # median scalar under each edge-list
    # subtree (AQE ReusedExchange collapses them at runtime) + moment/node
    # one-row reduces — all scalar, none data-sized
    "q223_stl_decompose": 4,      # date-bounds scalar ×2 + series-length
    # (one row per day, ~2.4k) MA window — series-sized, not fact-sized
    "q224_sax_symbols": 4,        # date-bounds scalar ×2 + weekly-moment
    # scalar; PAA/z relations are series-sized
    "q226_emd_regions": 2,        # corpus-n + max-bucket scalars (grid
    # windows are partitioned by region)
    "q228_geometric_median": 2,   # mean seed + per-round center scalars
    "q230_lagged_xcorr": 4,       # hour-bounds scalar under both series
    "q231_diff_in_diff": 2,       # stream-midpoint scalar + 4-cell reduce
    "q232_stratified_att": 1,     # closing ~25-stratum weighted reduce
    "q234_slo_burn_alerts": 2,    # hour-bounds scalar + 720-row series
    # window (series-sized, q223 posture)
    "q237_rank_biased_overlap": 1,  # two 20-row top-k rank windows +
    # closing 20-term reduce — constant-size relations
    "q241_quantile_treatment_effect": 1,  # 6-percentile scalar reduce
    "q242_binary_segmentation": 8,  # date-bounds + series-total scalars
    # under the prefix/score aliases + the series-length cumulative window
    # (q223 posture) + argmax scalar — all scalar or series-sized
    "q244_peak_detection": 2,     # date-bounds scalar + series-length
    # neighborhood windows (q223 posture)
    "q245_selectivity_audit": 2,  # histogram-bounds scalar under both
    # the histogram and exact-count branches
    "q246_isotonic_calibration": 1,  # price-bounds scalar broadcast
    "q248_forecast_reconcile": 2,  # target-month scalar under nation and
    # region branches (hierarchy-sized relations after)
    "q249_rolling_regression": 2,  # date-bounds scalar + series-length
    # moment window (q223 posture)
    "q252_expected_calibration_error": 2,  # customer-dimension rank window
    # (q210's documented shape) + closing 10-bucket reduce
    "q253_spearman_rank_corr": 1,  # customer-dimension rank windows +
    # closing moment reduce
    "q254_partial_correlation": 1,  # closing ten-moment scalar reduce
    "q255_qini_uplift": 1,        # user-dimension rank window (q210 shape)
    "q256_rolling_origin_backtest": 1,  # max-month scalar broadcast
    "q258_range_partition_planner": 3,  # 15-quantile scalar + cuts stack +
    # total scalar — all catalog-stat sized
    "q261_kruskal_wallis": 4,     # order-relation rank window (documented
    # exact-rank tax) + tie/total/k one-row reduces
    "q262_power_analysis": 1,     # baseline-rate scalar reduce
    "q263_jackknife_ratio_variance": 6,  # 32-bucket relation reduces: the
    # totals, LOO mean, and deviation scalars (all ≤32-row)
    "q265_james_stein_shrinkage": 1,  # pooled variance-component scalar
    "q266_hysteresis_alerts": 4,  # date-bounds + threshold scalars +
    # series-length state windows (q223 posture)
    "q268_gini_stump": 4,         # price-bounds scalar + 20-bucket
    # cumulative/total windows + argmin scalar — catalog-stat sized
    "q270_capture_recapture": 1,  # four-integer scalar reduce
    "q273_token_budget_selection": 2,  # corpus-token scalar + 1000-row
    # quality-bucket cumulative window
    "q275_factorial_experiment": 1,  # 4-cell closing reduce
    "q277_reserve_price_curve": 1,  # 5-decile reserve scalar broadcast
    "q278_ngram_coverage": 1,     # vocabulary rank window (value-domain)
    "q279_regression_discontinuity": 1,  # ten-moment scalar reduce
    "q280_consistent_hashing": 1,  # closing move-count scalar reduce
    "q283_cohen_kappa": 2,        # median-cut scalar + 2×2-cell reduce
    "q285_quadratic_response": 1,  # eight-moment scalar reduce
    "q290_fairness_audit": 4,     # customer-dimension rank window (q210
    # shape) + year scalar + best-segment reduce
    "q292_neyman_allocation": 1,  # strata-total scalar broadcast
    "q296_watermark_advisor": 4,  # block-maxima prefix window (block
    # relation is |stream|/1000) + blocked-rank lateness selection
    # (block prefix + 3-row cut assembly) + count scalar — never the
    # event data (q118 idiom)
    "q297_mean_excess": 3,        # blocked-rank threshold selection: block
    # table prefix window + 3-row cut assembly + tail-stat broadcast —
    # never the per-order data (q118 idiom)
    "q299_stationary_distribution": 1,  # state-count scalar broadcast
    "q301_vocab_growth": 1,       # doc-sized start-offset prefix window
    "q302_learned_index_audit": 4,  # block-prefix window (|keys|/1e5
    # relation) + moment/fit/error scalar reduces
    "q303_cdc_chunking": 2,       # corpus stats + dedup-bytes scalars
    "q304_dominant_period": 8,    # date-bounds scalar under both series
    # aliases (lag self-join) + argmax scalar — all scalar/series-sized
    "q306_effective_sample_size": 1,  # closing three-sum scalar reduce
}

AUDITED = [n for n in QUERIES if n not in _EXECUTING]


def test_executing_skip_list_names_exist():
    """Every skip-list entry must name a registered query EXACTLY —
    a stale or mistyped name would silently audit nothing (and the old
    prefix form could sweep future queries out of the audit)."""
    assert _EXECUTING <= set(QUERIES), sorted(_EXECUTING - set(QUERIES))


@pytest.mark.parametrize("name", AUDITED)
def test_no_cartesian_and_bounded_single_partition(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name}: accidental cross join"
    allowed = _SP_ALLOWED.get(name, 0)
    got = plan.count("SinglePartition")
    assert got <= allowed, (
        f"{name}: {got} SinglePartition exchange(s), allowance {allowed} — "
        "a global sort/window may have crept in"
    )


def _plan_nodes(node):
    """Every node of a physical plan, descending through AQE wrappers."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        children = node.children()
        kids = [children.apply(i) for i in range(children.size())]
    for kid in kids:
        yield from _plan_nodes(kid)


def _output_names(node):
    output = node.output()
    return {output.apply(i).name() for i in range(output.size())}


@pytest.mark.parametrize("parts", [2, 4])
def test_document_chain_has_no_funnel(spark, set_shuffle_partitions, tmp_path, parts):
    """The stock sync-batch chain over a binaryFile directory (the registry
    audit above never builds that source): read_documents ->
    with_size_validation -> split_valid -> convert_documents. The content
    column must cross exactly one exchange, the spread before decoding,
    and no exchange may funnel the batch into one task."""
    from docling_api_spark.pipeline.convert import convert_documents
    from docling_api_spark.sources import read_documents, split_valid, with_size_validation

    set_shuffle_partitions(parts)
    for i in range(6):
        (tmp_path / f"doc{i}.md").write_bytes(f"# Doc {i}\n\n".encode() + b"word " * 2000)
        (tmp_path / f"page{i}.html").write_bytes(
            f"<html><body><h1>Page {i}</h1><p>text</p></body></html>".encode()
        )
    accepted, _ = split_valid(with_size_validation(read_documents(spark, str(tmp_path))))
    out = convert_documents(accepted)
    rows = out.collect()
    assert len(rows) == 12 and not [r for r in rows if r["error"]]
    qe_plan = out._jdf.queryExecution().executedPlan()

    assert "SinglePartition" not in qe_plan.toString(), qe_plan.toString()
    exchanges = [
        n for n in _plan_nodes(qe_plan) if "Exchange" in n.getClass().getSimpleName()
    ]
    with_content = [n for n in exchanges if "content" in _output_names(n)]
    assert len(with_content) == 1, qe_plan.toString()
