"""`functions/quantiles.py::distributed_quantiles` bit-identity vs the
builtin exact `percentile` aggregate — on a double fact column, an
integer key column (exercising the up-front double cast), probs hitting
integral positions (0.0, 1.0, and whatever 0.5 lands on), nulls, and a
deliberately silly block width (correctness must not depend on it).

The helpers take their plan from the probe only; a test that needs a
particular ranking branch or block width forces it with `_forced`,
which patches the probe's decision and the width function."""

from __future__ import annotations

import contextlib
import dataclasses
import itertools
from unittest import mock

import pytest
from pyspark.sql import functions as F

from docling_api_spark.functions import quantiles as Q
from docling_api_spark.functions.quantiles import distributed_quantiles
from docling_api_spark.tables import load_table

PROBS = [0.0, 0.05, 0.25, 0.5, 0.62, 0.75, 0.95, 1.0]

_KEYS = itertools.count()


def _key() -> str:
    """A fresh probe_key. The memo stores each probe's findings under its
    key, so no case may reuse a key another case probed with."""
    return f"test:quantiles:{next(_KEYS)}"


def _forced(pre_reduce: bool | None = None, block_width: float | None = None):
    """Pin the plan the data would otherwise pick. ``pre_reduce`` replaces
    the probe's branch decision (the real probe still runs, so the
    block width stays the data's); ``block_width`` replaces the width.
    None leaves that choice to the probe."""
    stack = contextlib.ExitStack()
    if pre_reduce is not None:
        probe = Q._probe

        def forced_probe(*args):
            return dataclasses.replace(probe(*args), pre_reduce=pre_reduce)

        stack.enter_context(mock.patch.object(Q, "_probe", forced_probe))
    if block_width is not None:
        stack.enter_context(
            mock.patch.object(Q, "_auto_block_width", return_value=block_width)
        )
    return stack


def _builtin(df, col):
    return df.agg(
        F.expr(
            "percentile({}, array({}))".format(col, ", ".join(map(str, PROBS)))
        ).alias("c")
    ).collect()[0].c


@pytest.mark.parametrize(
    "table,col,block",
    [
        ("lineitem", "l_extendedprice", 1000.0),
        ("orders", "o_custkey", 37.0),  # bigint in, awkward block width
        ("part", "p_size", 3.0),  # tiny integer domain, heavy ties
    ],
)
def test_bit_identical_to_builtin(spark, sf_dir, table, col, block):
    df = load_table(spark, sf_dir, table)
    with _forced(pre_reduce=True, block_width=block):
        got = distributed_quantiles(df, col, PROBS, probe_key=_key()).collect()[0].c
    want = _builtin(df.select(F.col(col).cast("double").alias(col)), col)
    assert [repr(g) for g in got] == [repr(w) for w in want]


@pytest.mark.parametrize(
    "table,col,block",
    [
        ("lineitem", "l_extendedprice", 1000.0),  # near-unique: the target case
        ("part", "p_size", 3.0),  # heavy ties: positions among equal values
    ],
)
def test_raw_row_ranking_bit_identical(spark, sf_dir, table, col, block):
    """The raw-row branch (one shuffle) must produce the same bits as
    the distinct-count branch AND the builtin —
    including under heavy ties, where position assignment among equal
    values is arbitrary but every such position holds the same value."""
    df = load_table(spark, sf_dir, table)
    with _forced(pre_reduce=False, block_width=block):
        raw = distributed_quantiles(df, col, PROBS, probe_key=_key()).collect()[0].c
    want = _builtin(df.select(F.col(col).cast("double").alias(col)), col)
    assert [repr(g) for g in raw] == [repr(w) for w in want]


def test_raw_row_ranking_excludes_nulls_and_nans(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (float("nan"),), (3.0,)], "v double"
    )
    with _forced(pre_reduce=False, block_width=10.0):
        got = distributed_quantiles(
            df, "v", [0.0, 0.5, 1.0], probe_key=_key()
        ).collect()[0].c
    assert got == [1.0, 2.0, 3.0]


def test_nulls_excluded_like_builtin(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (10.0,)], "v double"
    )
    with _forced(pre_reduce=True, block_width=5.0):
        got = distributed_quantiles(df, "v", PROBS, probe_key=_key()).collect()[0].c
    want = _builtin(df, "v")
    assert [repr(g) for g in got] == [repr(w) for w in want]


def test_nan_excluded_with_documented_semantics(spark):
    """NaN is excluded by the input guard (module-docstring divergence):
    the result equals the builtin over the NaN-FILTERED input — and NOT
    the raw builtin, which sorts NaN greatest. Regression pin for the r5
    advisor finding that floor(NaN/width) landed NaN in block 0 and
    silently corrupted every rank at or above it."""
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (2.0,), (float("nan"),), (None,), (10.0,)],
        "v double",
    )
    with _forced(pre_reduce=True, block_width=5.0):
        got = distributed_quantiles(df, "v", PROBS, probe_key=_key()).collect()[0].c
    want = _builtin(df.where(~F.isnan("v")), "v")
    assert [repr(g) for g in got] == [repr(w) for w in want]
    assert not any(repr(g) == "nan" for g in got)


@pytest.mark.parametrize("pre_reduce", [True, False])
def test_grouped_nan_and_all_null_groups(spark, pre_reduce):
    """Grouped variant: NaN rows are excluded per group; a group whose
    values are ALL null/NaN yields no output row (documented divergence
    from the builtin's null-array row). Same semantics on both shuffle
    strategies."""
    from docling_api_spark.functions.quantiles import distributed_grouped_quantiles

    nan = float("nan")
    df = spark.createDataFrame(
        [("a", 1.0), ("a", nan), ("a", 3.0), ("b", nan), ("b", None), ("c", 5.0)],
        "g string, v double",
    )
    with _forced(pre_reduce=pre_reduce, block_width=2.0):
        rows = {
            r.g: [repr(v) for v in r.c]
            for r in distributed_grouped_quantiles(
                df, ["g"], "v", PROBS, probe_key=_key()
            ).collect()
        }
    assert set(rows) == {"a", "c"}  # b (all null/NaN) dropped, as documented
    want_a = _builtin(
        df.where((F.col("g") == "a") & ~F.isnan("v")), "v"
    )
    assert rows["a"] == [repr(w) for w in want_a]
    assert rows["c"] == [repr(5.0)] * len(PROBS)


@pytest.mark.parametrize(
    "table,grp,col,block,pre_reduce",
    [
        ("events", "event_type", "value", 250.0, True),
        ("orders", "o_orderstatus", "o_totalprice", 10000.0, True),
        ("part", "p_brand", "p_size", 7.0, True),  # heavy ties per group
        # raw-row ranking (r9): near-unique per group — the target case
        ("orders", "o_orderstatus", "o_totalprice", 10000.0, False),
        # raw-row ranking under heavy per-group ties: position assignment
        # among equal values is arbitrary but every position holds the
        # same value, so the interpolation must still match bit-for-bit
        ("part", "p_brand", "p_size", 7.0, False),
        ("events", "event_type", "value", 250.0, False),
    ],
)
def test_grouped_bit_identical_to_builtin(
    spark, sf_dir, table, grp, col, block, pre_reduce
):
    from docling_api_spark.functions.quantiles import distributed_grouped_quantiles

    df = load_table(spark, sf_dir, table)
    with _forced(pre_reduce=pre_reduce, block_width=block):
        got = {
            tuple(r)[0]: [repr(v) for v in r.c]
            for r in distributed_grouped_quantiles(
                df, [grp], col, PROBS, probe_key=_key()
            ).collect()
        }
    want = {
        tuple(r)[0]: [repr(v) for v in r.c]
        for r in df.select(grp, F.col(col).cast("double").alias(col))
        .groupBy(grp)
        .agg(
            F.expr(
                "percentile({}, array({}))".format(col, ", ".join(map(str, PROBS)))
            ).alias("c")
        )
        .collect()
    }
    assert got == want


# --- the r10 distinct-ratio probe picks the branch -------------------------


def test_auto_decision_near_unique_picks_raw(spark):
    """Near-unique values (every row distinct) must resolve to the
    raw-row ranking branch (pre_reduce False)."""
    df = spark.range(2000).selectExpr("CAST(id AS DOUBLE) + 0.5 AS v")
    assert Q._probe(df, [], "v", _key()).pre_reduce is False


def test_auto_decision_small_domain_picks_pre_reduce(spark):
    """A saturated small-int domain must resolve to the cardinality
    pre-reduce (pre_reduce True)."""
    df = spark.range(2000).selectExpr("CAST(id % 7 AS DOUBLE) AS v")
    assert Q._probe(df, [], "v", _key()).pre_reduce is True


def test_auto_grouped_judges_min_per_group_ratio(spark):
    """The q121 shape: one group near-unique, one group a tiny domain.
    The GLOBAL distinct ratio is ~0.5 (would pick raw), but the probe
    must judge the MIN per-group ratio — the tiny-domain group is the
    one that funnels into a single (group, blk) window partition under
    raw ranking — and pick the pre-reduce."""
    df = spark.range(4000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'm' ELSE 'f' END AS g",
        "CASE WHEN id % 2 = 0 THEN CAST(id AS DOUBLE) + 0.25"
        " ELSE CAST(id % 5 AS DOUBLE) END AS v",
    )
    assert Q._probe(df, ["g"], "v", _key()).pre_reduce is True
    # and with the tiny-domain group removed, the same data picks raw
    assert Q._probe(df.where("g = 'm'"), ["g"], "v", _key()).pre_reduce is False


def test_auto_memoizes_by_probe_key(spark):
    """A caller-supplied probe_key memoizes the decision: the second
    call must not re-probe (bench times plan builds, so rebuild N must
    be a dict hit). Verified by poisoning the memo and observing the
    poisoned decision come back without a job."""
    df = spark.range(500).selectExpr("CAST(id AS DOUBLE) AS v")
    key = "test:memo:poison"
    # the memo folds (col, group_cols) into the caller's key (r10
    # advisor): a reused probe_key must never cross-contaminate columns
    memo_key = (key, "v", ())
    Q._auto_memo.pop(memo_key, None)
    assert Q._probe(df, [], "v", key).pre_reduce is False
    assert memo_key in Q._auto_memo
    assert Q._auto_memo[memo_key].pre_reduce is False
    # poison: a re-probe would say False
    Q._auto_memo[memo_key] = Q.ProbeStats(True, 0.0)
    assert Q._probe(df, [], "v", key).pre_reduce is True
    Q._auto_memo.pop(memo_key, None)


def test_memo_key_collision_does_not_cross_columns(spark):
    """The r10 advisor's collision scenario, pinned: two call sites that
    (wrongly) share one probe_key string but probe DIFFERENT columns
    must get independent decisions — the near-unique column stays raw
    even after the tiny-domain column memoized under the same key."""
    df = spark.range(2000).selectExpr(
        "CAST(id AS DOUBLE) AS unique_v",
        "CAST(id % 3 AS DOUBLE) AS tiny_v",
    )
    key = "test:memo:shared-key"
    for c in ("unique_v", "tiny_v"):
        Q._auto_memo.pop((key, c, ()), None)
    assert Q._probe(df, [], "tiny_v", key).pre_reduce is True
    # same caller key, different column: must re-probe, not reuse
    assert Q._probe(df, [], "unique_v", key).pre_reduce is False
    # and grouped-vs-ungrouped under one key stay independent too
    g = spark.range(2000).selectExpr(
        "CAST(id % 2 AS STRING) AS g", "CAST(id AS DOUBLE) AS unique_v"
    )
    assert Q._probe(g, ["g"], "unique_v", key).pre_reduce is False
    assert (key, "unique_v", ("g",)) in Q._auto_memo
    for c in ("unique_v", "tiny_v"):
        Q._auto_memo.pop((key, c, ()), None)
    Q._auto_memo.pop((key, "unique_v", ("g",)), None)


def test_auto_reproduces_caller_decisions_on_testdata(spark, sf_dir):
    """The probe must reproduce the r8/r9 hand-measured branches on the
    real caller inputs (verified at sf0.1/sf0.01/sf0.001 when built;
    pinned here at the test scale): q118's near-unique prices -> raw;
    q24's per-type event values -> raw; the q121 metric stack (small-int
    f beside near-unique m) -> pre-reduce via the min-per-group ratio."""
    li = load_table(spark, sf_dir, "lineitem")
    assert Q._probe(li, [], "l_extendedprice", _key()).pre_reduce is False

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    assert Q._probe(ev, ["event_type"], "value", _key()).pre_reduce is False

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("f_orders"),
        F.sum(F.col("o_totalprice").cast("double")).alias("m_value"),
    )
    mstack = base.selectExpr(
        "stack(2, 'f', CAST(f_orders AS DOUBLE), 'm', m_value) AS (metric, v)"
    )
    assert Q._probe(mstack, ["metric"], "v", _key()).pre_reduce is True


def test_auto_end_to_end_bit_identical(spark, sf_dir):
    """The probe's own branch must produce the builtin's bits (it only
    ever RESOLVES to one of the two pinned branches)."""
    df = load_table(spark, sf_dir, "lineitem")
    with _forced(block_width=1000.0):
        auto = distributed_quantiles(
            df, "l_extendedprice", PROBS, probe_key=_key()
        ).collect()[0].c
    want = _builtin(
        df.select(F.col("l_extendedprice").cast("double").alias("v")), "v"
    )
    assert [repr(g) for g in auto] == [repr(w) for w in want]


def test_auto_block_width_scales_with_parallelism_and_groups(spark):
    """The probe's block width: width = range / blocks where blocks
    targets ~AUTO_BLOCKS_PER_PARTITION (group x block) cells per
    configured shuffle partition, divided by the sampled group count
    (floored)."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cells = min(
        Q.AUTO_TARGET_BLOCKS_CAP,
        max(Q.AUTO_TARGET_BLOCKS_MIN, Q.AUTO_BLOCKS_PER_PARTITION * shuffle),
    )
    # ungrouped: all cells are blocks
    st = Q.ProbeStats(False, 1.0, lo=0.0, hi=1000.0, groups=1)
    assert Q._auto_block_width(st, spark) == 1000.0 / cells
    # grouped: blocks divide by the group count
    st5 = Q.ProbeStats(False, 1.0, lo=0.0, hi=1000.0, groups=5)
    assert Q._auto_block_width(st5, spark) == 1000.0 / (cells // 5)
    # many groups: the per-group floor holds
    stbig = Q.ProbeStats(False, 1.0, lo=0.0, hi=1000.0, groups=10**9)
    assert Q._auto_block_width(stbig, spark) == 1000.0 / Q.AUTO_MIN_BLOCKS_PER_GROUP
    # degenerate ranges fall back to width 1.0
    assert Q._auto_block_width(Q.ProbeStats(False, 0.0), spark) == 1.0
    assert Q._auto_block_width(
        Q.ProbeStats(False, 0.0, lo=7.0, hi=7.0), spark
    ) == 1.0


def test_auto_block_width_end_to_end_bit_identical(spark, sf_dir):
    """The probe's block width only moves the parallelism/size trade —
    the cuts must still match the builtin bit-for-bit (both helpers)."""
    from docling_api_spark.functions.quantiles import (
        distributed_grouped_quantiles,
    )

    df = load_table(spark, sf_dir, "lineitem")
    auto = distributed_quantiles(
        df, "l_extendedprice", PROBS, probe_key=_key()
    ).collect()[0].c
    want = _builtin(
        df.select(F.col("l_extendedprice").cast("double").alias("v")), "v"
    )
    assert [repr(g) for g in auto] == [repr(w) for w in want]

    ev = load_table(spark, sf_dir, "events")
    got = {
        tuple(r)[0]: [repr(v) for v in r.c]
        for r in distributed_grouped_quantiles(
            ev, ["event_type"], "value", PROBS, probe_key=_key()
        ).collect()
    }
    want_g = {
        tuple(r)[0]: [repr(v) for v in r.c]
        for r in ev.select("event_type", F.col("value").cast("double").alias("v"))
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(v, array({}))".format(", ".join(map(str, PROBS)))
            ).alias("c")
        )
        .collect()
    }
    assert got == want_g


def test_auto_flips_branches_as_the_domain_saturates(spark):
    """The 100 TB behavior the adaptive branch exists for: the SAME
    bounded-domain column (1000 distinct values) is near-unique at small
    volume — raw-row ranking — and saturated at large volume — the probe
    flips to the cardinality pre-reduce with no code or constant change.
    A hand-measured boolean can only ever encode one of these."""
    small = spark.range(1500).selectExpr("CAST(id % 1000 AS DOUBLE) AS v")
    big = spark.range(60_000).selectExpr("CAST(id % 1000 AS DOUBLE) AS v")
    assert Q._probe(small, [], "v", _key()).pre_reduce is False  # ratio ~0.67
    assert Q._probe(big, [], "v", _key()).pre_reduce is True  # ratio ~0.017


def test_probe_decisions_pinned_for_every_auto_caller(spark):
    """Build every quantile-caller query at the driver's correctness
    scale (sf0.01) and pin the branch each probe picked — the guard that
    a future edit to the probe (threshold, sampling, grouping statistic)
    cannot silently flip a measured decision. Build-only: plans are
    constructed (probes fire eagerly), never executed."""
    from docling_api_spark.plans import all_queries

    sf01 = "/root/testdata/sf0.01"
    qs = all_queries()
    names = [
        "q24_percentiles_exact", "q114_winsorized_agg",
        "q118_equidepth_histogram", "q121_rfm_segmentation",
        "q158_median_mad_outliers", "q227_conformal_interval",
        "q241_quantile_treatment_effect", "q102_revenue_concentration",
        "q162_lift_table", "q296_watermark_advisor", "q297_mean_excess",
    ]
    # memo keys are (caller_key, col, group_cols) since the r10-advisor
    # fold; the caller key is the "qNNN:sf_dir" string
    def caller_key(k):
        return k[0] if isinstance(k, tuple) and isinstance(k[0], str) else ""

    for k in [k for k in Q._auto_memo if caller_key(k).endswith(sf01)]:
        Q._auto_memo.pop(k)
    for n in names:
        qs[n].fn(spark, sf01)  # building resolves the probes
    decisions = {
        caller_key(k).split(":")[0]: st.pre_reduce
        for k, st in Q._auto_memo.items()
        if caller_key(k).endswith(sf01)
    }
    assert decisions == {
        # q121's small-int f metric and q296's lateness are the
        # pre-reduces. q296 is the probe out-judging the r8 hand
        # constant: "microsecond lateness is near-continuous" was the
        # semantic expectation, but the synthetic events arrive in
        # order, so late_us is ONE distinct value (0) — the cardinality
        # pre-reduce collapses the whole column to a single row before
        # any window. Every other caller is near-unique (raw-row
        # ranking) at this scale.
        "q24": False, "q114": False, "q118": False, "q121": True,
        "q158a": False, "q158b": False, "q227": False, "q241": False,
        "q102": False, "q162": False, "q296": True, "q297": False,
    }


def test_flat_sample_triggers_second_chance_range_probe(spark):
    """A first sample that is all one value (q296's in-order lateness:
    100k leading zeros) must not leave the width blind: the second-chance
    probe scans past the constant and sizes the width from the real
    spread; a TRULY constant column keeps the degenerate 1.0 width —
    one occupied block, which is also what the data is."""
    # zero-dominated head, spread tail (monotonic id keeps the zeros first)
    df = spark.range(200_000).selectExpr(
        "CASE WHEN id < 150000 THEN 0.0"
        " ELSE CAST((id - 150000) * 2048 AS DOUBLE) END AS v"
    ).coalesce(1)
    st = Q._probe(df, [], "v", _key())
    assert st.lo == 0.0 and st.hi == (200_000 - 150_000 - 1) * 2048.0
    assert Q._auto_block_width(st, spark) > 1.0

    flat = spark.range(5000).selectExpr("7.5 AS v")
    st2 = Q._probe(flat, [], "v", _key())
    assert st2.lo == st2.hi == 7.5
    assert Q._auto_block_width(st2, spark) == 1.0


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_randomized_shapes_bit_identical(spark, seed):
    """Seeded adversarial shapes the table-backed tests don't cover:
    negative values (floor(x/width) must round toward -inf), mixtures of
    heavy ties and near-unique tails, values straddling block
    boundaries, and magnitudes far from the block width — both forced
    branches and the probe's own pick must match the builtin
    bit-for-bit."""
    import random

    rng = random.Random(seed)
    vals = (
        [float(rng.randint(-5, 5)) for _ in range(600)]  # tie-heavy, negative
        + [rng.uniform(-1e6, 1e6) for _ in range(600)]  # near-unique, wide
        + [float(k) * 25.0 for k in range(-20, 20)]  # exactly on boundaries
        + [rng.uniform(-1e-3, 1e-3) for _ in range(100)]  # tiny magnitudes
    )
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    probs = sorted(rng.uniform(0.0, 1.0) for _ in range(5)) + [0.0, 1.0]
    want = _builtin_probs(df, "v", probs)
    for mode in (True, False, None):
        with _forced(pre_reduce=mode, block_width=25.0):
            got = distributed_quantiles(
                df, "v", probs, probe_key=_key()
            ).collect()[0].c
        assert [repr(g) for g in got] == [repr(w) for w in want], mode
    # grouped: interleave a tie-heavy and a near-unique group
    gdf = spark.createDataFrame(
        [("ties", float(rng.randint(-3, 3))) for _ in range(500)]
        + [("uniq", rng.uniform(-1e5, 1e5)) for _ in range(500)],
        "g string, v double",
    )
    from docling_api_spark.functions.quantiles import (
        distributed_grouped_quantiles,
    )

    want_g = {
        r.g: [repr(v) for v in r.c]
        for r in gdf.groupBy("g").agg(
            F.expr(
                "percentile(v, array({}))".format(", ".join(map(str, probs)))
            ).alias("c")
        ).collect()
    }
    for mode in (True, False, None):
        with _forced(pre_reduce=mode):
            got_g = {
                r.g: [repr(v) for v in r.c]
                for r in distributed_grouped_quantiles(
                    gdf, ["g"], "v", probs, probe_key=_key()
                ).collect()
            }
        assert got_g == want_g, mode


def _builtin_probs(df, col, probs):
    return df.agg(
        F.expr(
            "percentile({}, array({}))".format(col, ", ".join(map(str, probs)))
        ).alias("c")
    ).collect()[0].c


def test_clustered_layout_probe_caveat(spark, tmp_path):
    """Adversarial pin for the probe's documented blind spot (r10
    verdict Next #6): on parquet CLUSTERED BY THE GROUP KEY, the
    limit() prefix sample reads only the first group's splits, so a
    late low-cardinality group is invisible — the probe misses the
    skew funnel and picks the raw branch (pre_reduce False). The
    documented consequence is bounded: slower (one single-task sorted
    window partition for the missed group), NEVER wrong — the grouped
    result must still be bit-identical to the builtin. This test turns
    the module block comment's honest caveat into a pinned contract."""
    from docling_api_spark.functions.quantiles import (
        distributed_grouped_quantiles,
    )

    # group 'a': > AUTO_PROBE_ROWS rows of near-unique values, written
    # FIRST; group 'z': a tiny 3-value domain (the q121-style funnel),
    # entirely after the prefix. One output file keeps row order.
    n_a = Q.AUTO_PROBE_ROWS + 20_000
    df = spark.range(n_a + 30_000).selectExpr(
        f"CASE WHEN id < {n_a} THEN 'a' ELSE 'z' END AS g",
        f"CASE WHEN id < {n_a} THEN CAST(id AS DOUBLE) + 0.25"
        " ELSE CAST(id % 3 AS DOUBLE) END AS v",
    )
    path = str(tmp_path / "clustered")
    df.repartition(1).sortWithinPartitions("g").write.parquet(path)
    back = spark.read.parquet(path)

    # 1) the blind spot happens: the prefix probe saw ONE group and
    #    chose raw — even though group 'z' alone (ratio 1e-4) would
    #    demand the pre-reduce.
    stats = Q._probe(back, ["g"], "v", _key())
    assert stats.groups == 1, "prefix unexpectedly reached group 'z'"
    assert stats.pre_reduce is False
    # ground truth at full scan: the funnel group IS pre-reduce-worthy
    assert Q._probe(back.where("g = 'z'"), ["g"], "v", _key()).pre_reduce is True

    # 2) the consequence is bounded: the raw branch is slow-never-wrong
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    want = {
        r.g: [repr(v) for v in r.c]
        for r in back.groupBy("g").agg(
            F.expr(
                "percentile(v, array({}))".format(", ".join(map(str, probs)))
            ).alias("c")
        ).collect()
    }
    got = {
        r.g: [repr(v) for v in r.c]
        for r in distributed_grouped_quantiles(
            back, ["g"], "v", probs, probe_key=_key()
        ).collect()
    }
    assert got == want


def test_ungrouped_is_the_grouped_plan_with_no_groups(spark):
    """r11 review: the ungrouped builder duplicated ~70 lines of the
    grouped plan and every fix had to land twice (NaN filter r6,
    pre_reduce r8/r9, auto probe r10). It now DELEGATES with
    group_cols=[]; pin bit-identity across both pre_reduce branches and
    a silly block width so the collapse can never silently fork."""
    import random

    from docling_api_spark.functions.quantiles import (
        distributed_grouped_quantiles,
        distributed_quantiles,
    )

    random.seed(11)
    df = spark.createDataFrame(
        [(random.randint(0, 40) / 7.0,) for _ in range(4000)], "v double"
    )
    probs = [0.0, 0.3, 0.5, 0.77, 1.0]
    for pre_reduce in (True, False):
        for bw in (0.9, 1000.0):
            with _forced(pre_reduce=pre_reduce, block_width=bw):
                a = distributed_quantiles(df, "v", probs, probe_key=_key()).collect()
                b = distributed_grouped_quantiles(
                    df, [], "v", probs, probe_key=_key()
                ).collect()
            assert len(a) == len(b) == 1
            assert list(a[0]["c"]) == list(b[0]["c"]), (pre_reduce, bw)


def test_reserved_group_column_names_raise_clearly(spark):
    """r11 review: a group column named after an internal plan alias
    used to die mid-plan with an ambiguous-reference AnalysisException;
    the builder must refuse up front with the reserved list."""
    import pytest

    from docling_api_spark.functions.quantiles import (
        distributed_grouped_quantiles,
    )

    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "c string, v double")
    with pytest.raises(ValueError, match="reserved"):
        distributed_grouped_quantiles(df, ["c"], "v", [0.5], probe_key=_key())


def test_helpers_take_their_plan_from_the_probe_only():
    """No caller-selected strategy: the only knob is the probe's memo
    key."""
    import inspect

    from docling_api_spark.functions.quantiles import (
        distributed_grouped_quantiles,
    )

    def shape(fn):
        return [(p.name, p.kind.name) for p in inspect.signature(fn).parameters.values()]

    tail = [("probe_key", "KEYWORD_ONLY")]
    assert shape(distributed_quantiles) == [
        ("df", "POSITIONAL_OR_KEYWORD"),
        ("col", "POSITIONAL_OR_KEYWORD"),
        ("probs", "POSITIONAL_OR_KEYWORD"),
        *tail,
    ]
    assert shape(distributed_grouped_quantiles) == [
        ("df", "POSITIONAL_OR_KEYWORD"),
        ("group_cols", "POSITIONAL_OR_KEYWORD"),
        ("col", "POSITIONAL_OR_KEYWORD"),
        ("probs", "POSITIONAL_OR_KEYWORD"),
        *tail,
    ]


@pytest.mark.parametrize("pre_reduce", [True, False])
def test_forced_branch_reaches_the_plan(spark, pre_reduce):
    """`_forced` must steer the builder, or the forced-branch cases above
    would all test the probe's own pick: only the pre-reduce branch
    ranks a checkpointed (x, c) distinct-count relation."""
    import re

    df = spark.range(500).selectExpr("CAST(id % 7 AS DOUBLE) AS v")
    with _forced(pre_reduce=pre_reduce):
        out = distributed_quantiles(df, "v", [0.5], probe_key=_key())
    plan = out._jdf.queryExecution().analyzed().treeString()
    assert bool(re.search(r"LogicalRDD \[x#\d+, c#\d+L\]", plan)) is pre_reduce
    assert [repr(v) for v in out.collect()[0].c] == [repr(3.0)]
