"""Scan-spread guard (tables._scan_spread_parts, optimization guide §2.5).

The driver's single-file / single-row-group test tables execute every
narrow operation before the first exchange on ONE core; load_table spreads
the documents/embeddings scans over min(8, shuffle partitions) when the
file is big enough (bench scale), and must be a strict no-op everywhere
else. Results must be bit-identical either way — that is the engine's
partitioning-independence claim, re-asserted here under the spread's own
partitioning (the small graded SFs sit below the size threshold, so the
dryrun never exercises it; this test forces it on and off by patching
the size gate, tables.SPREAD_MIN_BYTES).
"""

from __future__ import annotations

import ast
import glob
import math
import os
from unittest import mock

import pytest

from docling_api_spark import tables


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def _spread(on: bool):
    """Force the scan spread on (every single file passes the size gate)
    or off (none does)."""
    return mock.patch.object(tables, "SPREAD_MIN_BYTES", 1 if on else math.inf)


def test_spread_fires_only_above_threshold_and_when_enabled(spark, sf_dir):
    path = f"{sf_dir}/documents.parquet"
    # below threshold (sf0.001 documents is ~64 KB): no-op
    assert tables._scan_spread_parts(spark, path) == 0
    # force the threshold down: fires with min(8, shuffle partitions)
    with _spread(True):
        n = tables._scan_spread_parts(spark, path)
        assert n == min(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
        # one shuffle partition: nothing to spread over
        with mock.patch.object(tables, "shuffle_partitions", return_value=1):
            assert tables._scan_spread_parts(spark, path) == 0
        # a directory (multi-file production table): no-op — scan parallelizes
        assert tables._scan_spread_parts(spark, sf_dir) == 0
    with _spread(False):
        assert tables._scan_spread_parts(spark, path) == 0


def test_spread_partitions_and_row_parity(spark, sf_dir):
    with _spread(True):
        spread = tables.load_table(spark, sf_dir, "documents")
        assert spread.rdd.getNumPartitions() == min(
            8, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    with _spread(False):
        plain = tables.load_table(spark, sf_dir, "documents")
    assert _rows(spread) == _rows(plain)


@pytest.mark.parametrize(
    "name",
    [
        # representative multi-consumer float-emitting query (shingle
        # self-join + Jaccard doubles) on the default documents spread
        "q42_ngram_jaccard",
        # every opt-in spread_key caller
        "q01_pricing_summary",
        "q04_multiway_join_revenue",
        "q12_cube",
        "q29_large_orders",
        "q123_market_basket",
        "q135_sla_shipping_delay",
        "q143_promo_share",
        "q144_part_supplier_stats",
        "q148_denorm_drift_audit",
        "q203_negative_sampling",
        "q205_mahalanobis_outliers",
        "q221_poisson_bootstrap",
        "q222_degree_assortativity",
        "q246_isotonic_calibration",
        "q250_link_prediction",
        "q272_revenue_proration",
        "q277_reserve_price_curve",
        # default-spread readers whose opt-out measured no win: they run
        # the doc_id / vec_id spread at bench scale, which the graded
        # sizes (documents and embeddings under SPREAD_MIN_BYTES) never do
        "q67_pii_redaction",
        "q78_vocab_coverage",
        "q79_embedding_outliers",
        "q91_hash_sample",
        "q156_expectation_suite",
        "q159_embedding_quantization",
        "q240_compression_ratio",
        "q264_source_vocab_overlap",
        "q273_token_budget_selection",
    ],
)
def test_spread_query_results_bit_identical(spark, sf_dir, name):
    """Queries on spread tables return bit-identical rows with the
    spread forced on vs off."""
    from docling_api_spark.plans import all_queries

    q = all_queries()[name]
    with _spread(True):
        with_spread = _rows(q.fn(spark, sf_dir))
    with _spread(False):
        without = _rows(q.fn(spark, sf_dir))
    assert with_spread == without


@pytest.mark.parametrize(
    "name,payload_key",
    [
        # opt-OUT queries (spread_key=False): the payload must never cross
        # a spread exchange — q154's contract is "text never shuffles, only
        # its md5"; q104 shuffles (id, digest) pairs only.
        ("q71_upload_validation", "doc_id"),
        ("q104_snapshot_diff", "doc_id"),
        ("q154_source_quality_rollup", "doc_id"),
        ("q200_kwic_snippets", "doc_id"),
    ],
)
def test_spread_opt_out_keeps_plan_and_rows(spark, sf_dir, name, payload_key):
    """Opt-out queries plan NO spread repartition even when the spread is
    forced on, and their rows are identical under both knob settings."""
    from docling_api_spark.plans import all_queries

    q = all_queries()[name]
    with _spread(True):
        df = q.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the spread exchange is an explicit repartition (REPARTITION_BY_NUM
        # on the table key); plan-required exchanges (ENSURE_REQUIREMENTS,
        # e.g. q104's digest shuffle on doc_id) are legitimate and stay
        assert not any(
            f"hashpartitioning({payload_key}" in line and "REPARTITION_BY_NUM" in line
            for line in plan.splitlines()
        )
        forced = _rows(df)
    with _spread(False):
        plain = _rows(q.fn(spark, sf_dir))
    assert forced == plain


OPERATORS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docling_api_spark",
    "operators",
)

# Every scan-spread argument in the operator modules, as (registered query,
# table, value), sorted by repr. Each one has a measured A/B row in
# SCALING.md ("Knob sites"); a site lands here only with its row.
KNOB_SITES = [
    ("q01_pricing_summary", "lineitem", "l_orderkey"),
    ("q04_multiway_join_revenue", "lineitem", "l_orderkey"),
    ("q104_snapshot_diff", "documents", False),
    ("q123_market_basket", "lineitem", "l_orderkey"),
    ("q12_cube", "lineitem", "l_orderkey"),
    ("q135_sla_shipping_delay", "lineitem", "l_orderkey"),
    ("q143_promo_share", "lineitem", "l_orderkey"),
    ("q144_part_supplier_stats", "lineitem", "l_orderkey"),
    ("q148_denorm_drift_audit", "lineitem", "l_orderkey"),
    ("q154_source_quality_rollup", "documents", False),
    ("q200_kwic_snippets", "documents", False),
    ("q203_negative_sampling", "lineitem", "l_orderkey"),
    ("q205_mahalanobis_outliers", "lineitem", "l_orderkey"),
    ("q221_poisson_bootstrap", "orders", "o_orderkey"),
    ("q222_degree_assortativity", "lineitem", "l_orderkey"),
    ("q246_isotonic_calibration", "lineitem", "l_orderkey"),
    ("q250_link_prediction", "lineitem", "l_orderkey"),
    ("q272_revenue_proration", "lineitem", "l_orderkey"),
    ("q277_reserve_price_curve", "lineitem", "l_partkey"),
    ("q29_large_orders", "lineitem", "l_orderkey"),
    ("q71_upload_validation", "documents", False),
]


def _knob_sites() -> list[tuple]:
    """(registered query, table or "rank", value) for every ``spread_key=``
    and ``rank_parts=`` keyword argument in the operator modules; the query
    is None outside a registered builder."""
    sites = []
    for path in sorted(glob.glob(os.path.join(OPERATORS, "*.py"))):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for top in tree.body:
            query = next(
                (
                    d.args[0].value
                    for d in getattr(top, "decorator_list", [])
                    if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                ),
                None,
            )
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                for kw in node.keywords:
                    if kw.arg == "spread_key":
                        table = ast.literal_eval(node.args[2])
                        sites.append((query, table, ast.literal_eval(kw.value)))
                    elif kw.arg == "rank_parts":
                        sites.append((query, "rank", ast.unparse(kw.value)))
    return sorted(sites, key=repr)


def test_every_knob_site_is_measured():
    """A spread or rank-width site cannot be added, moved or dropped
    without a change to the measured list above."""
    assert _knob_sites() == KNOB_SITES
