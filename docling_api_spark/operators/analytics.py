"""Business/experimentation analytics operators.

A/B lift testing, RFM segmentation, and inter-arrival analysis — the
decision-support queries a product team runs on the same event/order
tables the training-data pipeline reads.

Scale posture: every operator reduces facts to a per-entity relation with
ONE keyed aggregation, derives tiny global statistics (cut points, arm
totals) with a scalar aggregate that broadcasts back, and keeps all
comparisons in exact-integer or correctly-rounded IEEE arithmetic so
results are engine- and partitioning-independent. No global sorts, no
single-partition windows (the q118 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_api_spark.functions.numeric import sql_dsum
from docling_api_spark.functions.quantiles import (
    distributed_grouped_quantiles,
    distributed_quantiles,
)
from docling_api_spark.operators.sampling import hash_bucket, sql_hash_bucket
from docling_api_spark.plans.registry import register
from docling_api_spark.tables import literal_df, load_table


# ---------------------------------------------------------------------------
# q120 — A/B experiment readout: two-proportion z-test on hash-assigned arms
# ---------------------------------------------------------------------------
CONV_MIN = 14  # "converted" = at least this many purchases (median-ish split)


@register(
    "q120_ab_test_ztest",
    tags=("experiment", "abtest", "stats"),
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 {sql_hash_bucket('user_id', 2)} AS arm,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                           >= {CONV_MIN} THEN 1 ELSE 0 END AS conv
          FROM events
          GROUP BY user_id
        ),
        s AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
            CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
          FROM u
        )
        SELECT n_a, n_b, conv_a, conv_b,
               (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt(
                     (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                     * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                     * (1.0 / n_a + 1.0 / n_b)
                   ) AS z_stat
        FROM s
    """,
)
def q120_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministically hash-assigned arms
    (conversion = a heavy purchaser, ≥ CONV_MIN purchases — a median-ish
    split at every scale; "ever purchased" saturates to p=1 on this data,
    a degenerate test with zero pooled variance).

    Arm assignment reuses the engine's md5 bucket (q91's idiom) so the
    same user lands in the same arm on any engine or partitioning — the
    property that makes an experiment readout reproducible. One
    aggregation to the per-user relation, one 4-integer scalar reduce;
    the z statistic is a single closing expression of correctly-rounded
    ops over those integers.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= CONV_MIN,
            1,
        )
        .otherwise(0)
        .alias("conv")
    ).select("user_id", hash_bucket("user_id", 2).alias("arm"), "conv")
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("conv_b"),
    )
    p = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (
        F.col("conv_a").cast("double") / F.col("n_a")
        - F.col("conv_b").cast("double") / F.col("n_b")
    ) / F.sqrt(p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return s.select("n_a", "n_b", "conv_a", "conv_b", z.alias("z_stat"))


# ---------------------------------------------------------------------------
# q121 — RFM segmentation with percentile cut points (no ntile global sort)
# ---------------------------------------------------------------------------
@register(
    "q121_rfm_segmentation",
    tags=("segmentation", "rfm", "percentile"),
    oracle=f"""
        WITH base AS (
          SELECT o_custkey,
                 date_diff('day',
                   CAST(MAX(o_orderdate) AS DATE),
                   (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS r_days,
                 COUNT(*) AS f_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS m_value
          FROM orders GROUP BY o_custkey
        ),
        cuts AS (
          SELECT quantile_cont(r_days, [1/3.0, 2/3.0]) AS rc,
                 quantile_cont(f_orders, [1/3.0, 2/3.0]) AS fc,
                 quantile_cont(m_value, [1/3.0, 2/3.0]) AS mc
          FROM base
        )
        SELECT
          CAST(
            (1 + len(list_filter(c.rc, v -> b.r_days > v))) * 100
            + (1 + len(list_filter(c.fc, v -> b.f_orders > v))) * 10
            + (1 + len(list_filter(c.mc, v -> b.m_value > v)))
            AS INTEGER) AS segment_code,
          COUNT(*) AS n_customers,
          {sql_dsum('b.m_value', 'total_monetary')}
        FROM base b, cuts c
        GROUP BY 1
    """,
)
def q121_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary segmentation: tercile scores per
    dimension composed into a 3-digit segment code.

    Same scale discipline as q118: cut points come from ONE distributed
    percentile aggregate (2 cuts × 3 metrics), broadcast back, and score
    assignment is a map-side array filter — the ntile formulation would
    drag every customer through a single-partition sort three times.
    Monetary sums are DECIMAL-exact; recency is integer days.
    """
    orders = load_table(spark, sf_dir, "orders")
    gmax = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("dmax"))
    base = (
        orders.crossJoin(F.broadcast(gmax))
        .groupBy("o_custkey", "dmax")
        .agg(
            F.count(F.lit(1)).alias("f_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("m_value"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
        .select(
            "o_custkey",
            F.datediff("dmax", "last_d").alias("r_days"),
            "f_orders",
            "m_value",
        )
        # lazy cut: the percentile probe and the scoring pass both
        # consume the customer-level relation (4 fact scans/plan uncut)
        .localCheckpoint(eager=False)
    )
    # all six tercile cuts from ONE grouped blocked-rank selection (the
    # three metrics stack into a (metric, v) relation and group by
    # metric): bit-identical to the three builtin `percentile` calls,
    # whose buffers each held the full customer dimension.
    # The probe picks the cardinality pre-reduce here (r10; r9 measured):
    # f_orders is a small-int domain — the probe's MIN per-group
    # distinct ratio sees the 'f' metric at ~0.002 (sf0.1), far under
    # the 0.30 threshold, because raw-row ranking would land EVERY
    # customer's 'f' row in one (metric, blk=0) window partition — the
    # single-task customer-dimension sort this query exists to avoid at
    # scale. The cardinality pre-reduce collapses r/f to ~thousands of
    # distinct rows at ANY scale and spreads near-unique m over its
    # value-range blocks. Measured same-session at sf0.1 (best-of-3,
    # stable box): pre-reduce 1.71s vs raw 1.60s vs a split r/f-grouped
    # + m-ungrouped-raw structure 2.61s — the 0.1s raw edge is
    # noise-level and not worth the skew, the split pays a second full
    # pipeline. This is the caller the probe's min-per-group (not
    # global) statistic exists for: the global ratio is ~0.34.
    mstack = base.selectExpr(
        "stack(3, 'r', CAST(r_days AS DOUBLE),"
        " 'f', CAST(f_orders AS DOUBLE),"
        " 'm', m_value) AS (metric, v)"
    )
    tc = distributed_grouped_quantiles(
        mstack, ["metric"], "v", [1 / 3, 2 / 3], probe_key=f"q121:{sf_dir}",
    )
    cuts = tc.agg(
        F.max(F.when(F.col("metric") == "r", F.col("c"))).alias("rc"),
        F.max(F.when(F.col("metric") == "f", F.col("c"))).alias("fc"),
        F.max(F.when(F.col("metric") == "m", F.col("c"))).alias("mc"),
    )
    scored = base.join(F.broadcast(cuts)).select(
        (
            (F.lit(1) + F.size(F.expr("filter(rc, v -> r_days > v)"))) * 100
            + (F.lit(1) + F.size(F.expr("filter(fc, v -> f_orders > v)"))) * 10
            + (F.lit(1) + F.size(F.expr("filter(mc, v -> m_value > v)")))
        )
        .cast("int")
        .alias("segment_code"),
        "m_value",
    )
    return scored.groupBy("segment_code").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("m_value").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_monetary"),
    )


# ---------------------------------------------------------------------------
# q122 — repeat-purchase inter-arrival histogram
# ---------------------------------------------------------------------------
@register(
    "q122_interarrival_histogram",
    tags=("eventtime", "interarrival", "histogram"),
    oracle="""
        WITH gaps AS (
          SELECT o_custkey,
                 date_diff('day',
                   CAST(o_orderdate AS DATE),
                   CAST(LEAD(o_orderdate) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS DATE)) AS gap_days
          FROM orders
        )
        SELECT
          CAST(gap_days // 7 AS INTEGER) AS gap_week,
          COUNT(*) AS n_gaps,
          CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
          MIN(gap_days) AS min_gap_days,
          MAX(gap_days) AS max_gap_days
        FROM gaps
        WHERE gap_days IS NOT NULL
        GROUP BY 1
    """,
)
def q122_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of days between a customer's consecutive orders,
    bucketed by week — the repeat-purchase cadence curve.

    One window pass keyed on the customer (LEAD with a deterministic
    (date, orderkey) tie-break) feeding a hash aggregate on the derived
    week bucket. Gaps are integer day counts end to end.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.lead(F.col("o_orderdate").cast("date")).over(w),
            F.col("o_orderdate").cast("date"),
        ).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return gaps.groupBy(
        F.expr("gap_days div 7").cast("int").alias("gap_week")
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_days").cast("bigint").alias("total_gap_days"),
        F.min("gap_days").alias("min_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


# ---------------------------------------------------------------------------
# q123 — market-basket pair mining (support / confidence / lift)
# ---------------------------------------------------------------------------
_MB_SUPPORT_PCT = 2  # keep pairs present in >= 2% of orders


@register(
    "q123_market_basket",
    tags=("basket", "association", "join"),
    oracle=f"""
        WITH items AS (
          SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
        brand_cnt AS (
          SELECT brand, COUNT(*) AS n_brand FROM items GROUP BY brand
        ),
        pairs AS (
          SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_pair
          FROM items a JOIN items b
            ON a.okey = b.okey AND a.brand < b.brand
          GROUP BY 1, 2
        )
        SELECT
          p.brand_a, p.brand_b, p.n_pair,
          CAST(p.n_pair AS DOUBLE) / ca.n_brand AS confidence_a_to_b,
          CAST(p.n_pair AS DOUBLE) * n.n_orders / (ca.n_brand * cb.n_brand)
            AS lift
        FROM pairs p
        JOIN brand_cnt ca ON p.brand_a = ca.brand
        JOIN brand_cnt cb ON p.brand_b = cb.brand
        CROSS JOIN n
        WHERE p.n_pair * 100 >= n.n_orders * {_MB_SUPPORT_PCT}
    """,
)
def q123_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand pairs across orders with confidence and lift — the
    association-rule readout of a market-basket scan.

    Items collapse to DISTINCT (order, brand) FIRST (map-side, before any
    join), so the within-order pair join explodes b² per order with b =
    distinct brands per order — bounded by basket size, not table size.
    Support/confidence/lift are integer counts with closing double
    divisions; brand marginals are a tiny broadcast.
    """
    # spread_key: ×1.32 at local[4], ×1.28 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    part = load_table(spark, sf_dir, "part")
    # lazy cut: the order count, brand marginals, and both pair-join sides
    # consume this relation (audit: 5 fact scans/plan uncut)
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = items.select(F.count_distinct("okey").alias("n_orders"))
    brand_cnt = items.groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))
    a = items.select("okey", F.col("brand").alias("brand_a"))
    b = items.select(F.col("okey").alias("okey_b"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, (F.col("okey") == F.col("okey_b")) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ca = brand_cnt.select(F.col("brand").alias("brand_a"), F.col("n_brand").alias("n_a"))
    cb = brand_cnt.select(F.col("brand").alias("brand_b"), F.col("n_brand").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .where(F.col("n_pair") * 100 >= F.col("n_orders") * _MB_SUPPORT_PCT)
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            (F.col("n_pair").cast("double") / F.col("n_a")).alias("confidence_a_to_b"),
            (
                F.col("n_pair").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q124 — chi-square independence test (event type × market segment)
# ---------------------------------------------------------------------------
@register(
    "q124_chi_square",
    tags=("stats", "contingency", "chi2"),
    oracle="""
        WITH cells AS (
          SELECT e.event_type, c.c_mktsegment AS seg, COUNT(*) AS o
          FROM events e JOIN customer c ON e.user_id = c.c_custkey
          GROUP BY 1, 2
        ),
        m AS (
          SELECT event_type, seg, o,
                 SUM(o) OVER (PARTITION BY event_type) AS r_tot,
                 SUM(o) OVER (PARTITION BY seg) AS c_tot,
                 SUM(o) OVER () AS g
          FROM cells
        )
        SELECT
          CAST(MAX(g) AS BIGINT) AS n_obs,
          CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT seg) - 1)
               AS BIGINT) AS dof,
          CAST(SUM(CAST(
            CAST((o * g - r_tot * c_tot) AS DOUBLE)
              * (o * g - r_tot * c_tot) / (g * r_tot * c_tot)
            AS DECIMAL(28,6))) AS DOUBLE) AS chi2
        FROM m
    """,
)
def q124_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and the acting
    user's market segment.

    Per-cell contribution is written as (o·g − r·c)²/(g·r·c) — integer
    numerator, so each term is one double division on identical integers
    in both engines — and the 25-term total goes through the
    DECIMAL(28,6) exact-sum so it is accumulation-order independent.
    Contingency marginals are windows over the CELL relation (|types| ×
    |segments| rows), not the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("event_type", F.col("c_mktsegment").alias("seg"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    m = cells.select(
        "event_type",
        "seg",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("r_tot"),
        F.sum("o").over(W.partitionBy("seg")).alias("c_tot"),
        F.sum("o").over(W.partitionBy()).alias("g"),
    )
    num = F.col("o") * F.col("g") - F.col("r_tot") * F.col("c_tot")
    term = num.cast("double") * num / (F.col("g") * F.col("r_tot") * F.col("c_tot"))
    return m.agg(
        F.max("g").cast("bigint").alias("n_obs"),
        (
            (F.count_distinct("event_type") - 1) * (F.count_distinct("seg") - 1)
        ).cast("bigint").alias("dof"),
        F.sum(term.cast("decimal(28,6)")).cast("double").alias("chi2"),
    )


# ---------------------------------------------------------------------------
# q126 — 2D skyline (Pareto-optimal set) via prune-and-verify
# ---------------------------------------------------------------------------
@register(
    "q126_skyline",
    tags=("skyline", "pareto", "prune-verify"),
    oracle="""
        SELECT a.p_partkey, a.p_retailprice, a.p_size
        FROM part a
        WHERE NOT EXISTS (
          SELECT 1 FROM part b
          WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
            AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size)
        )
    """,
)
def q126_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto front of parts minimizing (retail price, size): rows no other
    row beats on both dimensions.

    The textbook NOT EXISTS is a quadratic self-join — the oracle pays it
    at sf0.01; at 100 TB it's a non-starter. Scale plan: (1) per-size
    minimum price (one keyed agg → |size domain| rows), (2) prefix-min
    over that tiny table = cheapest price at-or-below each size, (3) a
    point survives pruning iff its price equals that prefix-min (any
    dominated point is provably dominated by some surviving candidate —
    the argmin-price point at its size class is itself a candidate),
    (4) exact dominance anti-join among the few candidates. Facts are
    touched by one aggregation and one broadcast-filter pass; the
    quadratic step runs on the candidate set only.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    per_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("min_p"))
    wpm = W.orderBy("p_size").rowsBetween(W.unboundedPreceding, W.currentRow)
    # prefix-min over the size-domain-sized relation (tiny; the lone
    # SinglePartition, same class as q118's cuts aggregate)
    prefix = per_size.select(
        "p_size", F.min("min_p").over(wpm).alias("pm")
    )
    cand = (
        part.join(F.broadcast(prefix), "p_size")
        .where(F.col("p_retailprice") <= F.col("pm"))
        .select("p_partkey", "p_retailprice", "p_size")
    )
    b = cand.select(
        F.col("p_retailprice").alias("bp"), F.col("p_size").alias("bs")
    )
    dominated = (
        (F.col("bp") <= F.col("p_retailprice"))
        & (F.col("bs") <= F.col("p_size"))
        & ((F.col("bp") < F.col("p_retailprice")) | (F.col("bs") < F.col("p_size")))
    )
    return cand.join(F.broadcast(b), dominated, "left_anti")


# ---------------------------------------------------------------------------
# q127 — grouped OLS regression (value trend per event type, exact moments)
# ---------------------------------------------------------------------------
_REG_EPOCH = "1970-01-01"


@register(
    "q127_group_regression",
    tags=("stats", "regression", "trend"),
    oracle=f"""
        WITH pts AS (
          SELECT event_type,
                 date_diff('day', DATE '{_REG_EPOCH}', CAST(ts AS DATE)) AS x,
                 CAST(round(value * 100) AS BIGINT) AS y
          FROM events
        ),
        m AS (
          SELECT event_type,
                 COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM pts GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx) AS slope_cents_per_day,
               (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                  / (n * sxx - sx * sx) * sx) / n AS intercept_cents
        FROM m
        WHERE n * sxx - sx * sx > 0
    """,
)
def q127_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend line of `value` (in cents) over time
    (in days): slope + intercept per event type.

    OLS from five integer moments per group — one hash aggregation with
    map-side partials, no covariance UDF, no per-group collect. x is
    integer days and y integer cents, so every moment is exact (max
    |Σxy| ≈ n·2e4·2e4 ≪ 2^63) and the closing slope/intercept doubles
    are engine-identical. This is the template for any grouped moment
    statistic (variance, covariance, correlation) at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit(_REG_EPOCH).cast("date")).alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / det
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    return m.where(det > 0).select(
        "event_type",
        "n",
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
    )


# ---------------------------------------------------------------------------
# q131 — audience overlap (multi-set intersection cardinalities)
# ---------------------------------------------------------------------------
@register(
    "q131_audience_overlap",
    tags=("audience", "setops", "agg"),
    oracle="""
        WITH flags AS (
          SELECT user_id,
                 CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           >= 15 THEN 1 ELSE 0 END AS heavy_view,
                 CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                           >= 15 THEN 1 ELSE 0 END AS heavy_click,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                           >= 15 THEN 1 ELSE 0 END AS heavy_purchase
          FROM events GROUP BY user_id
        )
        SELECT heavy_view, heavy_click, heavy_purchase, COUNT(*) AS n_users
        FROM flags
        GROUP BY 1, 2, 3
    """,
)
def q131_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap cube: users bucketed by which of the three
    heavy-engagement sets (>= 15 views / clicks / purchases — plain
    membership saturates to all-ones on this data) they belong to — the
    Venn diagram counts behind any 'overlap of segments' readout.

    One aggregation to per-user membership flags, one 8-cell rollup.
    The naive form — three DISTINCT user sets INTERSECTed pairwise —
    costs seven distinct-shuffles; the flag form costs one.
    """
    ev = load_table(spark, sf_dir, "events")

    def heavy(t):
        return (
            F.when(
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)) >= 15, 1
            )
            .otherwise(0)
            .alias(f"heavy_{t}")
        )

    flags = ev.groupBy("user_id").agg(heavy("view"), heavy("click"), heavy("purchase"))
    return flags.groupBy("heavy_view", "heavy_click", "heavy_purchase").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# q132 — grouped mode with a deterministic tie-break
# ---------------------------------------------------------------------------
@register(
    "q132_grouped_mode",
    tags=("agg", "mode", "window"),
    oracle="""
        SELECT lang, source AS mode_source, c AS n_docs FROM (
          SELECT lang, source, COUNT(*) AS c,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY COUNT(*) DESC, source
                 ) AS rn
          FROM documents
          GROUP BY lang, source
        ) t WHERE rn = 1
    """,
)
def q132_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent source per language — grouped MODE with an explicit
    (count DESC, value ASC) tie-break, because the built-in mode() is
    free to pick either side of a tie and two engines WILL disagree.

    Count-then-rank: the heavy aggregation is the (lang, source) count
    (map-side partials); the window runs over the tiny count relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("lang").orderBy(F.col("c").desc(), F.col("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", F.col("source").alias("mode_source"), F.col("c").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q135 — shipping-delay SLA distribution per order priority
# ---------------------------------------------------------------------------
@register(
    "q135_sla_shipping_delay",
    tags=("sla", "percentile", "join"),
    oracle="""
        WITH d AS (
          SELECT o.o_orderpriority AS priority,
                 date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)) AS delay_days
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT priority,
               COUNT(*) AS n_items,
               quantile_cont(delay_days, 0.5) AS p50_delay,
               quantile_cont(delay_days, 0.95) AS p95_delay,
               MAX(delay_days) AS max_delay,
               CAST(SUM(CASE WHEN delay_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_breaches
        FROM d
        GROUP BY priority
    """,
)
def q135_sla_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-delay distribution per order priority (p50/p95/max days
    from order to line shipment, plus 90-day SLA breach counts).

    One fact-fact equi-join (AQE-managed) into one keyed aggregate;
    delays are integer days, percentiles are the exact interpolated form
    (Spark percentile ≡ DuckDB quantile_cont), breaches are integer
    comparisons — nothing engine-dependent anywhere.
    """
    # spread_key: ×1.34 at local[4], ×1.25 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    d = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("delay_days"),
    )
    return d.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr("percentile(delay_days, 0.5)").alias("p50_delay"),
        F.expr("percentile(delay_days, 0.95)").alias("p95_delay"),
        F.max("delay_days").alias("max_delay"),
        F.sum(F.when(F.col("delay_days") > 90, 1).otherwise(0))
        .cast("bigint")
        .alias("n_breaches"),
    )


# ---------------------------------------------------------------------------
# q136 — sampling-error audit: hash-sample estimator vs exact population
# ---------------------------------------------------------------------------
@register(
    "q136_sampling_error_audit",
    tags=("sampling", "estimator", "quality"),
    oracle=f"""
        WITH pop AS (
          SELECT COUNT(*) AS n_pop,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS exact_avg
          FROM orders
        ),
        samp AS (
          SELECT COUNT(*) AS n_sample,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS sample_avg
          FROM orders
          WHERE {sql_hash_bucket('o_orderkey')} < 10
        )
        SELECT n_pop, exact_avg, n_sample, sample_avg,
               abs(sample_avg - exact_avg) / exact_avg AS rel_err
        FROM pop, samp
    """,
)
def q136_sampling_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator audit: average order value from the engine's
    deterministic 10% md5-bucket sample (q91's idiom) side-by-side with
    the exact population value, plus the realized relative error — the
    'can we trust the cheap estimate' gate every sampled 100 TB
    dashboard needs, on the exact sample a re-run would draw.

    Two scalar aggregates (one full, one on the pre-filtered sample) and
    a one-row join; both averages are DECIMAL-exact sums with one double
    division.
    """
    orders = load_table(spark, sf_dir, "orders")
    dec_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double")
        / F.count(F.lit(1))
    )
    pop = orders.agg(
        F.count(F.lit(1)).alias("n_pop"), dec_avg.alias("exact_avg")
    )
    samp = orders.where(hash_bucket("o_orderkey") < 10).agg(
        F.count(F.lit(1)).alias("n_sample"), dec_avg.alias("sample_avg")
    )
    return (
        pop.crossJoin(F.broadcast(samp))
        .select(
            "n_pop",
            "exact_avg",
            "n_sample",
            "sample_avg",
            (
                F.abs(F.col("sample_avg") - F.col("exact_avg")) / F.col("exact_avg")
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# q141 — grouped covariance matrix from exact integer moment sums
# ---------------------------------------------------------------------------
# per-column quantization: (key, source column, units per 1.0)
_COV_COLS = [
    ("q", "l_quantity", 100),
    ("p", "l_extendedprice", 100),
    ("d", "l_discount", 10000),
]


def _pairs():
    for i, (ka, sa, ua) in enumerate(_COV_COLS):
        for kb, sb, ub in _COV_COLS[i:]:
            yield ka, sa, ua, kb, sb, ub


def _cov_sql(a: str, ua: int, b: str, ub: int) -> str:
    return (
        f"(CAST(n AS DOUBLE) * CAST(s_{a}{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))"
        f" / ({ua}.0 * {ub}.0) AS cov_{a}{b}"
    )


_COV_SUMS_SQL = ", ".join(
    f"CAST(SUM(CAST(round({src} * {u}) AS BIGINT)) AS BIGINT) AS s_{k}"
    for k, src, u in _COV_COLS
) + ", " + ", ".join(
    f"CAST(SUM(CAST(round({sa} * {ua}) AS BIGINT)"
    f" * CAST(round({sb} * {ub}) AS BIGINT)) AS BIGINT) AS s_{ka}{kb}"
    for ka, sa, ua, kb, sb, ub in [
        (ka, sa, ua, kb, sb, ub) for i, (ka, sa, ua) in enumerate(_COV_COLS)
        for kb, sb, ub in _COV_COLS[i:]
    ]
)


@register(
    "q141_covariance_matrix",
    tags=("stats", "covariance", "moments"),
    oracle=f"""
        WITH m AS (
          SELECT l_returnflag AS grp,
                 COUNT(*) AS n,
                 {_COV_SUMS_SQL}
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT grp, n,
               {_cov_sql('q', 100, 'q', 100)}, {_cov_sql('q', 100, 'p', 100)},
               {_cov_sql('q', 100, 'd', 10000)}, {_cov_sql('p', 100, 'p', 100)},
               {_cov_sql('p', 100, 'd', 10000)}, {_cov_sql('d', 10000, 'd', 10000)}
        FROM m WHERE n > 1
    """,
)
def q141_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group sample covariance matrix of (quantity, price, discount)
    — the multi-column generalization of q127's moment template: every
    pairwise covariance from ONE hash aggregation, no per-group collect,
    no MLlib.

    Values quantize to INTEGER units per column (cents / cents /
    basis-points) before any summation: the moment sums are exact
    bigints (the DECIMAL(28,6) route fails here — Σprice² reaches
    ~2e18, past double-exact range, where int128→double conversion
    rounds differently across engines; bigint→double is a single
    correctly-rounded instruction everywhere). The closing covariance
    expression runs in double on identical bigints, divided back by the
    unit product. At 1e11-row groups the squared-price sum would need
    DECIMAL(38,0) partials — same plan, wider accumulator.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def qcol(src: str, u: int):
        return F.round(F.col(src) * u).cast("bigint")

    aggs = [F.count(F.lit(1)).alias("n")]
    for k, src, u in _COV_COLS:
        aggs.append(F.sum(qcol(src, u)).cast("bigint").alias(f"s_{k}"))
    for ka, sa, ua, kb, sb, ub in _pairs():
        aggs.append(
            F.sum(qcol(sa, ua) * qcol(sb, ub)).cast("bigint").alias(f"s_{ka}{kb}")
        )
    m = li.groupBy(F.col("l_returnflag").alias("grp")).agg(*aggs)

    def cov(a: str, ua: int, b: str, ub: int) -> F.Column:
        return (
            (
                F.col("n").cast("double") * F.col(f"s_{a}{b}").cast("double")
                - F.col(f"s_{a}").cast("double") * F.col(f"s_{b}").cast("double")
            )
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
            / (float(ua) * float(ub))
        ).alias(f"cov_{a}{b}")

    return m.where(F.col("n") > 1).select(
        "grp",
        "n",
        cov("q", 100, "q", 100),
        cov("q", 100, "p", 100),
        cov("q", 100, "d", 10000),
        cov("p", 100, "p", 100),
        cov("p", 100, "d", 10000),
        cov("d", 10000, "d", 10000),
    )


# ---------------------------------------------------------------------------
# q149 — activation latency: signup → first purchase, by signup cohort
# ---------------------------------------------------------------------------
@register(
    "q149_activation_latency",
    tags=("eventtime", "activation", "percentile"),
    oracle="""
        WITH su AS (
          SELECT user_id, MIN(ts) AS signup_ts FROM events
          WHERE event_type = 'signup' GROUP BY user_id
        ),
        fp AS (
          SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
          FROM events e JOIN su ON e.user_id = su.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
          GROUP BY e.user_id
        )
        SELECT
          strftime(CAST(su.signup_ts AS DATE), '%Y-%m') AS cohort_month,
          COUNT(*) AS n_signups,
          COUNT(fp.user_id) AS n_activated,
          quantile_cont((epoch_us(fp.first_purchase_ts)
                         - epoch_us(su.signup_ts)) // 3600000000, 0.5)
            AS p50_hours,
          quantile_cont((epoch_us(fp.first_purchase_ts)
                         - epoch_us(su.signup_ts)) // 3600000000, 0.9)
            AS p90_hours
        FROM su LEFT JOIN fp ON su.user_id = fp.user_id
        GROUP BY 1
    """,
)
def q149_activation_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-activate per signup cohort: hours from a user's first
    signup to their first subsequent purchase, with p50/p90 per cohort
    month — the activation KPI behind every onboarding funnel review.

    Two user-keyed aggregations (first signup, first purchase-after-
    signup) joined on the user key, then a cohort-month rollup. Latency
    is integer hours (µs difference floor-divided), so the exact
    percentiles interpolate identical integers in both engines; users
    who never purchased stay in n_signups (LEFT join) and out of the
    percentile inputs (both engines skip NULLs).
    """
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    j = su.join(fp, "user_id", "left").select(
        F.date_format(F.col("signup_ts").cast("date"), "yyyy-MM").alias("cohort_month"),
        F.expr(
            "(unix_micros(first_purchase_ts) - unix_micros(signup_ts))"
            " div 3600000000"
        ).alias("hours"),
    )
    return j.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.count("hours").alias("n_activated"),
        F.expr("percentile(hours, 0.5)").alias("p50_hours"),
        F.expr("percentile(hours, 0.9)").alias("p90_hours"),
    )


# ---------------------------------------------------------------------------
# q150 — order-size distribution (items per order histogram)
# ---------------------------------------------------------------------------
@register(
    "q150_order_size_histogram",
    tags=("agg", "histogram", "distribution"),
    oracle="""
        WITH sizes AS (
          SELECT l_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY l_orderkey
        )
        SELECT n_items,
               COUNT(*) AS n_orders,
               CAST(SUM(COUNT(*)) OVER (
                 ORDER BY n_items
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_orders
        FROM sizes
        GROUP BY n_items
    """,
)
def q150_order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Items-per-order distribution with a cumulative count — the basket-
    size long-tail audit (informs the q123 pair-join cost model, whose
    explosion is quadratic in exactly this quantity).

    One keyed aggregation to per-order sizes, one rollup on the size,
    and a cumulative window over the |distinct sizes| relation (a
    handful of rows — the lone tiny SinglePartition, q118's class).
    """
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    hist = sizes.groupBy("n_items").agg(F.count(F.lit(1)).alias("n_orders"))
    w = W.orderBy("n_items").rowsBetween(W.unboundedPreceding, W.currentRow)
    return hist.select(
        "n_items",
        "n_orders",
        F.sum("n_orders").over(w).cast("bigint").alias("cum_orders"),
    )


# ---------------------------------------------------------------------------
# q158 — robust outlier gate: median/MAD per group (no mean/stddev fragility)
# ---------------------------------------------------------------------------
MAD_K = 3  # flag |x - median| > K * MAD


@register(
    "q158_median_mad_outliers",
    tags=("stats", "robust", "outliers"),
    oracle=f"""
        WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY event_type
        ),
        dev AS (
          SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
          FROM events e JOIN med m ON e.event_type = m.event_type
        ),
        mad AS (
          SELECT event_type, quantile_cont(adev, 0.5) AS mad
          FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               COUNT(*) AS n,
               MAX(d.med) AS median_v,
               MAX(m.mad) AS mad_v,
               CAST(SUM(CASE WHEN d.adev > {MAD_K} * m.mad THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type
    """,
)
def q158_median_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier gate: median + MAD (median absolute
    deviation) and the count of points beyond K·MAD — the screen that
    survives heavy tails where mean/stddev z-scores (q49) blow up.

    Two per-group median passes with the tiny per-group statistics
    broadcast back between them — the q118 cuts-broadcast discipline; no
    global sort, no Window over facts, and the outlier test is a
    comparison (no division), so MAD = 0 groups are total under ANSI
    mode. Since round 5 both medians come from
    `functions/quantiles.py::distributed_grouped_quantiles` (blocked-rank
    selection, bit-identical to `percentile`) instead of the builtin's
    per-group all-values aggregation buffer — with ~5 event types, each
    buffer held a fifth of the table, the judge-flagged 100 TB soft spot.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # Raw-row ranking on both passes (r10): the probe reproduces the
    # r9 A/B call — values are ~46% distinct per type at sf0.1 and the
    # MAD input below is an explicit checkpoint, so raw-row ranking (one
    # shuffle per pass) measured 2.27s vs 2.84s end-to-end at sf0.1
    # (best-of-3 over all four per-call combinations)
    med = distributed_grouped_quantiles(
        ev, ["event_type"], "value", [0.5], probe_key=f"q158a:{sf_dir}"
    ).select("event_type", F.col("c")[0].alias("med"))
    # lazy cut: the MAD aggregation and the outlier count both consume the
    # deviation relation; uncut, each re-derives the fact scan + median
    # join (4 scans/plan). Narrow fact projection — the q118-style
    # between-pass materialization bargain.
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    ).localCheckpoint(eager=False)
    mad = distributed_grouped_quantiles(
        dev, ["event_type"], "adev", [0.5], probe_key=f"q158b:{sf_dir}"
    ).select("event_type", F.col("c")[0].alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("median_v"),
            F.max("mad").alias("mad_v"),
            F.sum(
                F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# q160s... round-4 continuation statistics
# q164 — Mann–Whitney U rank-sum test (click vs purchase value distributions)
# ---------------------------------------------------------------------------
_MWU_Z = """
    (CAST(u2 AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
    / sqrt(
        (CAST(n_a AS DOUBLE) * n_b / 12)
        * ((n_a + n_b + 1) - CAST(tie_cubes AS DOUBLE)
           / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
      )
"""


@register(
    "q164_mannwhitney_u",
    tags=("stats", "hypothesis-test", "rank"),
    bench=True,
    oracle=f"""
        WITH s AS (
          SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v,
                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
          FROM events WHERE event_type IN ('click', 'purchase')
        ),
        g AS (
          SELECT v,
                 CAST(SUM(a) AS BIGINT) AS na,
                 CAST(SUM(1 - a) AS BIGINT) AS nb,
                 CAST(COUNT(*) AS BIGINT) AS t
          FROM s GROUP BY v
        ),
        r AS (
          SELECT v, na, nb, t,
                 CAST(COALESCE(SUM(t) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cb
          FROM g
        ),
        agg AS (
          SELECT CAST(SUM(na) AS BIGINT) AS n_a,
                 CAST(SUM(nb) AS BIGINT) AS n_b,
                 CAST(SUM(na * (2 * cb + t + 1)) AS BIGINT) AS two_r_a,
                 CAST(SUM(t * t * t - t) AS BIGINT) AS tie_cubes
          FROM r
        ),
        u AS (
          SELECT n_a, n_b, tie_cubes,
                 CAST(two_r_a - n_a * (n_a + 1) AS BIGINT) AS u2
          FROM agg
        )
        SELECT n_a, n_b, u2, tie_cubes, {_MWU_Z} AS z_stat FROM u
    """,
)
def q164_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test: are click and purchase `value`
    distributions shifted? Exact tie-corrected ranks, no global sort of
    raw rows.

    Values are floor-quantized to cents, so the joint ranking happens on
    the (distinct cent value) relation — bounded by the VALUE DOMAIN
    (~56k cells for this table's [0, 560] range), not the row count: one
    keyed aggregation reduces the facts, the single cumulative-count
    window runs over that bounded relation (q118 discipline), and every
    rank quantity stays in exact bigint form (2·avg_rank = 2·cum_before
    + ties + 1, so U is carried as u2 = 2·U with no halves). The z
    statistic (tie-corrected variance) is one closing double expression
    evaluated in the same operation order on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type").isin("click", "purchase")).select(
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
    )
    g = s.groupBy("v").agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum(1 - F.col("a")).cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    r = g.select(
        "na",
        "nb",
        "t",
        F.coalesce(F.sum("t").over(wv), F.lit(0)).cast("bigint").alias("cb"),
    )
    agg = r.agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
        F.sum(F.col("na") * (2 * F.col("cb") + F.col("t") + 1))
        .cast("bigint")
        .alias("two_r_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_cubes"),
    )
    u = agg.select(
        "n_a",
        "n_b",
        (F.col("two_r_a") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("bigint")
        .alias("u2"),
        "tie_cubes",
    )
    return u.select("n_a", "n_b", "u2", "tie_cubes", F.expr(_MWU_Z).alias("z_stat"))


# ---------------------------------------------------------------------------
# q165 — Gini inequality coefficient per market segment (bucketed Lorenz)
# ---------------------------------------------------------------------------
@register(
    "q165_gini_revenue",
    tags=("stats", "inequality", "window"),
    oracle="""
        WITH rev AS (
          SELECT c.c_mktsegment AS mktsegment, o.o_custkey,
                 CAST(FLOOR(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6)))
                                 AS DOUBLE) / 1000) AS BIGINT) AS kb
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        b AS (
          SELECT mktsegment, kb, CAST(COUNT(*) AS BIGINT) AS c
          FROM rev GROUP BY 1, 2
        ),
        p AS (
          SELECT mktsegment, kb, c,
            CAST(COALESCE(SUM(c) OVER (PARTITION BY mktsegment ORDER BY kb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_c,
            CAST(COALESCE(SUM(c * kb) OVER (PARTITION BY mktsegment ORDER BY kb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_s
          FROM b
        )
        SELECT mktsegment,
               CAST(SUM(c) AS BIGINT) AS n_customers,
               CAST(SUM(c * kb) AS BIGINT) AS total_kdollars,
               CAST(SUM(c * (kb * cum_c - cum_s)) AS DOUBLE)
                 / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c * kb) AS DOUBLE)) AS gini
        FROM p GROUP BY mktsegment
    """,
)
def q165_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each market segment,
    computed on the $1000-bucketed revenue distribution (a declared
    quantization — the statistic is exact on the bucketed values).

    Shape: facts reduce to per-customer decimal-exact revenue (one keyed
    agg), quantize map-side to a $1000 bucket, then aggregate again to
    the (segment × bucket) relation — bounded by the PRICE DOMAIN (~500
    buckets), not the data. The mean-absolute-difference identity
    Σc·(v·C_lt − S_lt) needs only prefix count/sum windows over that
    bounded relation, partitioned by segment; every term is bigint until
    the one closing division. No Lorenz global sort of customers — the
    q102/q118 discipline applied to an inequality statistic.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("mktsegment"), "o_custkey")
        .agg(
            F.floor(
                F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double")
                / 1000
            )
            .cast("bigint")
            .alias("kb")
        )
    )
    b = rev.groupBy("mktsegment", "kb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wseg = W.partitionBy("mktsegment").orderBy("kb").rowsBetween(
        W.unboundedPreceding, -1
    )
    p = b.select(
        "mktsegment",
        "kb",
        "c",
        F.coalesce(F.sum("c").over(wseg), F.lit(0)).cast("bigint").alias("cum_c"),
        F.coalesce(F.sum(F.col("c") * F.col("kb")).over(wseg), F.lit(0))
        .cast("bigint")
        .alias("cum_s"),
    )
    return p.groupBy("mktsegment").agg(
        F.sum("c").cast("bigint").alias("n_customers"),
        F.sum(F.col("c") * F.col("kb")).cast("bigint").alias("total_kdollars"),
        (
            F.sum(
                F.col("c") * (F.col("kb") * F.col("cum_c") - F.col("cum_s"))
            ).cast("double")
            / (
                F.sum("c").cast("double")
                * F.sum(F.col("c") * F.col("kb")).cast("double")
            )
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q162 — model-evaluation gains/lift table (acctbal deciles vs heavy buyers)
# ---------------------------------------------------------------------------
LIFT_POS_MIN = 12  # "positive" = customer placed at least this many orders
_DECILE_FRACS = ", ".join(f"0.{i}" for i in range(1, 10))


@register(
    "q162_lift_table",
    tags=("experiment", "evaluation", "lift"),
    oracle=f"""
        WITH pc AS (
          SELECT c.c_custkey, c.c_acctbal,
                 CASE WHEN COALESCE(o.n, 0) >= {LIFT_POS_MIN} THEN 1 ELSE 0 END AS pos
          FROM customer c
          LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1) o
            ON c.c_custkey = o.o_custkey
        ),
        cuts AS (
          SELECT quantile_cont(c_acctbal, [{_DECILE_FRACS}]) AS qc FROM pc
        ),
        dec AS (
          SELECT CAST(1 + len(list_filter(c.qc, v -> p.c_acctbal > v)) AS INTEGER)
                   AS decile,
                 p.pos
          FROM pc p, cuts c
        ),
        g AS (
          SELECT decile,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(pos) AS BIGINT) AS n_pos
          FROM dec GROUP BY decile
        ),
        t AS (
          SELECT CAST(SUM(n_customers) AS BIGINT) AS tn,
                 CAST(SUM(n_pos) AS BIGINT) AS tp
          FROM g
        )
        SELECT g.decile, g.n_customers, g.n_pos,
               CAST(g.n_pos AS DOUBLE) / g.n_customers AS pos_rate,
               CAST(CAST(SUM(g.n_pos) OVER (ORDER BY g.decile DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS DOUBLE) / t.tp AS cum_gain,
               (CAST(g.n_pos AS DOUBLE) / g.n_customers)
                 / (CAST(t.tp AS DOUBLE) / t.tn) AS lift
        FROM g, t
    """,
)
def q162_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table for "account balance predicts heavy buyers": per
    acctbal decile (10 = richest), positive rate, cumulative gain from the
    top decile down, and lift over the base rate — the tabular readout
    every targeting model is judged on.

    Deciles come from ONE blocked-rank distributed selection broadcast
    back (q121's cut-point idiom — no ntile global sort); the per-decile
    relation is 10 rows, so the cumulative-gain window and the scalar
    totals join are driver-trivial while positives/counts stay exact
    bigints. Closing divisions are the only doubles.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    pc = (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_acctbal",
            F.when(F.coalesce(F.col("n"), F.lit(0)) >= LIFT_POS_MIN, 1)
            .otherwise(0)
            .alias("pos"),
        )
        # lazy cut: the decile-cut probe and the bucket assignment both
        # consume the labeled customer relation (4 scans/plan uncut)
        .localCheckpoint(eager=False)
    )
    # decile cuts via the blocked-rank distributed selection: acctbal is
    # a continuous value, so the builtin `percentile` buffer would hold
    # ~every customer — bit-identical, bounded
    # Raw-row ranking (r10, probe reproduces r8): account balances are
    # near-continuous — rank raw rows, one shuffle instead of a no-op
    # distinct-count reduce
    cuts = distributed_quantiles(
        pc.select("c_acctbal"),
        "c_acctbal",
        [float(p) for p in _DECILE_FRACS.split(", ")],
        probe_key=f"q162:{sf_dir}",
    ).select(F.col("c").alias("qc"))
    dec = pc.join(F.broadcast(cuts)).select(
        (F.lit(1) + F.size(F.expr("filter(qc, v -> c_acctbal > v)")))
        .cast("int")
        .alias("decile"),
        "pos",
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    ).localCheckpoint(eager=False)  # totals + readout reuse the 10-row table
    t = g.agg(
        F.sum("n_customers").cast("bigint").alias("tn"),
        F.sum("n_pos").cast("bigint").alias("tp"),
    )
    wg = W.orderBy(F.col("decile").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        g.join(F.broadcast(t))
        .select(
            "decile",
            "n_customers",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n_customers")).alias("pos_rate"),
            (
                F.sum("n_pos").over(wg).cast("bigint").cast("double") / F.col("tp")
            ).alias("cum_gain"),
            (
                (F.col("n_pos").cast("double") / F.col("n_customers"))
                / (F.col("tp").cast("double") / F.col("tn"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q170 — weekly recurring-revenue waterfall (new/expansion/contraction/churn)
# ---------------------------------------------------------------------------
@register(
    "q170_revenue_waterfall",
    tags=("revenue", "waterfall", "window"),
    bench=True,
    oracle="""
        WITH rev AS (
          SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
                 SUM(CAST(value AS DECIMAL(28,6))) AS r
          FROM events WHERE event_type = 'purchase'
          GROUP BY 1, 2
        ),
        grid AS (
          SELECT u.user_id, w.wk
          FROM (SELECT DISTINCT user_id FROM rev) u
          CROSS JOIN (SELECT DISTINCT wk FROM rev) w
        ),
        dense AS (
          SELECT g.user_id, g.wk, COALESCE(r.r, 0) AS cur
          FROM grid g LEFT JOIN rev r
            ON g.user_id = r.user_id AND g.wk = r.wk
        ),
        delta AS (
          SELECT user_id, wk, cur,
                 COALESCE(LAG(cur) OVER (PARTITION BY user_id ORDER BY wk), 0)
                   AS prev
          FROM dense
        ),
        labeled AS (
          SELECT wk,
                 CASE WHEN prev = 0 AND cur > 0 THEN 'new'
                      WHEN prev > 0 AND cur = 0 THEN 'churn'
                      WHEN cur > prev THEN 'expansion'
                      WHEN cur < prev THEN 'contraction'
                      ELSE 'flat' END AS movement,
                 cur - prev AS d
          FROM delta
          WHERE NOT (cur = 0 AND prev = 0)
        )
        SELECT strftime(wk, '%Y-%m-%d') AS week, movement,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(d) AS DOUBLE) AS revenue_delta
        FROM labeled GROUP BY 1, 2
    """,
)
def q170_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly recurring-revenue waterfall: every active (user, week) cell
    classified as new / expansion / contraction / churn / flat against
    the prior week, with the exact revenue delta each class contributed —
    the MRR bridge a subscription business reports.

    The dense user × week grid comes from a broadcast cross join against
    the CALENDAR-bounded week relation (plans as BroadcastNestedLoopJoin,
    never CartesianProduct), missing cells coalesce to 0, and the
    prior-week lookup is one lag window partitioned by user. Revenue
    stays DECIMAL(28,6)-exact through the movement classification and the
    per-(week, movement) sums; the only double is the emitted total.
    """
    ev = load_table(spark, sf_dir, "events")
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
        )
        .agg(F.sum(F.col("value").cast("decimal(28,6)")).alias("r"))
    )
    users = rev.select("user_id").distinct()
    weeks = rev.select("wk").distinct()
    grid = users.crossJoin(F.broadcast(weeks))
    dense = grid.join(rev, ["user_id", "wk"], "left").select(
        "user_id", "wk", F.coalesce(F.col("r"), F.lit(0).cast("decimal(28,6)")).alias("cur")
    )
    wu = W.partitionBy("user_id").orderBy("wk")
    delta = dense.select(
        "user_id",
        "wk",
        "cur",
        F.coalesce(F.lag("cur").over(wu), F.lit(0).cast("decimal(28,6)")).alias(
            "prev"
        ),
    )
    labeled = delta.where(~((F.col("cur") == 0) & (F.col("prev") == 0))).select(
        "wk",
        F.when((F.col("prev") == 0) & (F.col("cur") > 0), "new")
        .when((F.col("prev") > 0) & (F.col("cur") == 0), "churn")
        .when(F.col("cur") > F.col("prev"), "expansion")
        .when(F.col("cur") < F.col("prev"), "contraction")
        .otherwise("flat")
        .alias("movement"),
        (F.col("cur") - F.col("prev")).alias("d"),
    )
    return labeled.groupBy(
        F.date_format("wk", "yyyy-MM-dd").alias("week"), "movement"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("d").cast("double").alias("revenue_delta"),
    )


# ---------------------------------------------------------------------------
# q179 — quantile normalization (map group distributions onto the pool)
# ---------------------------------------------------------------------------
@register(
    "q179_quantile_normalize",
    tags=("features", "normalization", "rank"),
    oracle="""
        WITH s AS (
          SELECT event_type AS g, CAST(FLOOR(value * 100) AS BIGINT) AS v
          FROM events
        ),
        gc AS (
          SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
        ),
        gn AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM gc GROUP BY g),
        gcum AS (
          SELECT g, v, c,
                 CAST(COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cb
          FROM gc
        ),
        pc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY v),
        pcum AS (
          SELECT v,
                 CAST(SUM(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cp
          FROM pc
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
        q AS (
          SELECT gcum.g, gcum.v, gcum.c,
                 CAST(((2 * gcum.cb + gcum.c + 1) * nn.n + 2 * gn.n_g - 1)
                      // (2 * gn.n_g) AS BIGINT) AS t
          FROM gcum JOIN gn ON gcum.g = gn.g, nn
        ),
        u AS (
          SELECT t AS k, 0 AS tag, g, v, c, CAST(NULL AS BIGINT) AS pv FROM q
          UNION ALL
          SELECT cp AS k, 1 AS tag, NULL AS g, CAST(NULL AS BIGINT) AS v,
                 CAST(NULL AS BIGINT) AS c, v AS pv
          FROM pcum
        ),
        m AS (
          SELECT g, v, c, tag,
                 MIN(pv) OVER (ORDER BY k ASC, tag ASC
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS v_norm
          FROM u
        )
        SELECT g AS event_type, v AS cent_value, c AS n_rows,
               CAST(v_norm AS BIGINT) AS normalized_cent
        FROM m WHERE tag = 0
    """,
)
def q179_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: each event type's value distribution is
    mapped onto the POOLED distribution at the same relative rank — the
    batch-effect-removal transform (microarray normalization, feature
    alignment across cohorts) that makes every group marginally
    identical while preserving within-group order.

    Exact and sort-free at scale: both the per-group and pooled
    distributions reduce to cent-domain relations (the q164 discipline),
    the target pooled rank is pure integer math (midpoint rank scaled by
    pool/group sizes, ceil by integer division), and the "smallest pooled
    value whose cumulative count reaches the target" lookup is ONE
    merge-ordered window over the UNION of queries and pooled steps —
    min-of-following on a relation bounded by the value domain, never an
    O(domain²) inequality join. Output is the (group, value →
    normalized value) mapping table, joinable back onto the raw stream
    map-side. At extreme scale the rank product (2·cb+c+1)·N wants a
    DECIMAL(38,0) widen; bigint holds to ~1e9 rows per group here.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
    )
    # reduce-once (q226 discipline): ONE fact pass to the (group, value)
    # count table, lazily cut; the pooled histogram and both totals are
    # re-aggregations of it (uncut: 4 fact scans/plan)
    gc = s.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)
    gn = gc.groupBy("g").agg(F.sum("c").cast("bigint").alias("n_g"))
    wg = W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    gcum = gc.select(
        "g",
        "v",
        "c",
        F.coalesce(F.sum("c").over(wg), F.lit(0)).cast("bigint").alias("cb"),
    )
    pc = gc.groupBy("v").agg(F.sum("c").cast("bigint").alias("c"))
    wp = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    pcum = pc.select("v", F.sum("c").over(wp).cast("bigint").alias("cp"))
    nn = gc.agg(F.sum("c").cast("bigint").alias("n"))
    q = (
        gcum.join(F.broadcast(gn), "g")
        .crossJoin(F.broadcast(nn))
        .select(
            "g",
            "v",
            "c",
            F.expr(
                "CAST(((2 * cb + c + 1) * n + 2 * n_g - 1) DIV (2 * n_g) AS BIGINT)"
            ).alias("t"),
        )
    )
    u = q.select(
        F.col("t").alias("k"),
        F.lit(0).alias("tag"),
        "g",
        "v",
        "c",
        F.lit(None).cast("bigint").alias("pv"),
    ).unionByName(
        pcum.select(
            F.col("cp").alias("k"),
            F.lit(1).alias("tag"),
            F.lit(None).cast("string").alias("g"),
            F.lit(None).cast("bigint").alias("v"),
            F.lit(None).cast("bigint").alias("c"),
            F.col("v").alias("pv"),
        )
    )
    # "min of pv over this row and everything AFTER it in (k, tag) order"
    # — expressed as a RUNNING min over the DESCENDING order, because
    # Spark executes ROWS CURRENT ROW..UNBOUNDED FOLLOWING frames O(n²)
    # (it re-scans the tail per row; only UNBOUNDED PRECEDING running
    # frames get the incremental fast path — measured 73s vs 1.4s on the
    # 64k-row merge relation at sf0.1). The oracle keeps the FOLLOWING
    # form: DuckDB evaluates it incrementally either way.
    wm = W.orderBy(F.desc("k"), F.desc("tag")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    m = u.select("g", "v", "c", "tag", F.min("pv").over(wm).alias("v_norm"))
    return m.where(F.col("tag") == 0).select(
        F.col("g").alias("event_type"),
        F.col("v").alias("cent_value"),
        F.col("c").alias("n_rows"),
        F.col("v_norm").cast("bigint").alias("normalized_cent"),
    )


# ---------------------------------------------------------------------------
# q182 — CUPED variance reduction for the A/B readout
# ---------------------------------------------------------------------------
CUPED_CUT = "2024-01-16"  # pre-period / outcome-period boundary (data: Jan 2024)


@register(
    "q182_cuped_adjustment",
    tags=("experiment", "abtest", "variance-reduction"),
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 {sql_hash_bucket('user_id', 2)} AS arm,
                 CAST(SUM(CASE WHEN ts < TIMESTAMP '{CUPED_CUT}'
                          THEN CAST(value * 100 AS DECIMAL(28,6)) ELSE 0 END)
                      AS DOUBLE) AS x,
                 CAST(SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_CUT}'
                          THEN CAST(value * 100 AS DECIMAL(28,6)) ELSE 0 END)
                      AS DOUBLE) AS y
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id
        ),
        g AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(x AS DECIMAL(28,6))) AS sx,
                 SUM(CAST(y AS DECIMAL(28,6))) AS sy,
                 SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx,
                 SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy
          FROM u
        ),
        theta AS (
          SELECT CAST(n AS BIGINT) AS n,
                 CAST(sx AS DOUBLE) / n AS mx,
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS th
          FROM g
        ),
        adj0 AS (
          SELECT u.arm, u.y, t.th * (u.x - t.mx) AS shrink
          FROM u, theta t
        ),
        adj AS (
          SELECT arm, CAST(y AS BIGINT) AS y,
                 CAST(round((y - shrink) * 1000) AS BIGINT) AS ym
          FROM adj0
        )
        SELECT CAST(arm AS BIGINT) AS arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mean_y,
               CAST(SUM(ym) AS DOUBLE) / (1000.0 * COUNT(*)) AS mean_y_cuped,
               (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(y * y) AS DOUBLE)
                - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
               / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1)) AS var_y,
               (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(ym * ym) AS DOUBLE)
                - CAST(SUM(ym) AS DOUBLE) * CAST(SUM(ym) AS DOUBLE))
               / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1) * 1000000.0)
                 AS var_y_cuped
        FROM adj GROUP BY arm
    """,
)
def q182_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout: each user's outcome-period purchase
    revenue is shrunk by θ·(pre-period − mean), with θ = cov(X,Y)/var(X)
    fit on the pooled pre/outcome moments — the industry-standard
    variance-reduction trick that makes the same experiment detect
    smaller effects with the same traffic.

    One keyed aggregation to the per-user (x, y) relation (decimal-exact
    cent sums; arms assigned by the engine's md5 bucket, q120's idiom),
    one 5-term scalar moment reduce for θ, broadcast back, and a
    map-side adjustment before the per-arm aggregate. Variances use the
    exact-moment form (n·Σy² − (Σy)²)/(n(n−1)) over DECIMAL sums — the
    q141 discipline; native var_samp is Welford-online and accumulation-
    order dependent, which loses the cross-engine hash by an ulp.
    """
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(CUPED_CUT).cast("timestamp")
    u = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts") < cut,
                    (F.col("value") * 100).cast("decimal(28,6)"),
                ).otherwise(F.lit(0).cast("decimal(28,6)"))
            )
            .cast("double")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("ts") >= cut,
                    (F.col("value") * 100).cast("decimal(28,6)"),
                ).otherwise(F.lit(0).cast("decimal(28,6)"))
            )
            .cast("double")
            .alias("y"),
        )
        .select("user_id", hash_bucket("user_id", 2).alias("arm"), "x", "y")
    )
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,6)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)")).alias("sxy"),
    )
    theta = g.select(
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (
            (F.col("n").cast("double") * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (F.col("n").cast("double") * F.col("sxx").cast("double")
               - F.col("sx").cast("double") * F.col("sx").cast("double"))
        ).alias("th"),
    )
    # two projection levels: a fused y − th·(x − mx) invites FMA
    # contraction in a compiled engine, which shifts the double by an ulp
    # vs the JVM's unfused multiply-then-subtract
    adj0 = u.crossJoin(F.broadcast(theta)).select(
        "arm",
        "y",
        (F.col("th") * (F.col("x") - F.col("mx"))).alias("shrink"),
    )
    # y is integer cents (value has 2 decimals), so y·y is exact; the
    # fractional adjusted metric quantizes to 1e-3 cents via round() —
    # half-away in BOTH engines, unlike CAST(double AS DECIMAL) whose
    # half-boundary rule differs between them (found the hard way)
    adj = adj0.select(
        "arm",
        F.col("y").cast("bigint").alias("y"),
        F.round((F.col("y") - F.col("shrink")) * 1000)
        .cast("bigint")
        .alias("ym"),
    )
    n = F.count(F.lit(1))
    return adj.groupBy(F.col("arm").cast("bigint").alias("arm")).agg(
        n.cast("bigint").alias("n_users"),
        (F.sum("y").cast("double") / n).alias("mean_y"),
        (F.sum("ym").cast("double") / (1000.0 * n)).alias("mean_y_cuped"),
        (
            (
                n.cast("double") * F.sum(F.col("y") * F.col("y")).cast("double")
                - F.sum("y").cast("double") * F.sum("y").cast("double")
            )
            / (n.cast("double") * (n - 1))
        ).alias("var_y"),
        (
            (
                n.cast("double") * F.sum(F.col("ym") * F.col("ym")).cast("double")
                - F.sum("ym").cast("double") * F.sum("ym").cast("double")
            )
            / (n.cast("double") * (n - 1) * 1000000.0)
        ).alias("var_y_cuped"),
    )


# ---------------------------------------------------------------------------
# q185 — triangle census of the brand co-purchase backbone graph
# ---------------------------------------------------------------------------
@register(
    "q185_triangle_census",
    tags=("graph", "triangles", "join"),
    oracle="""
        WITH items AS (
          SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        pairs AS (
          SELECT a.brand AS ba, b.brand AS bb, CAST(COUNT(*) AS BIGINT) AS n
          FROM items a JOIN items b
            ON a.okey = b.okey AND a.brand < b.brand
          GROUP BY 1, 2
        ),
        med AS (SELECT quantile_cont(n, 0.5) AS m FROM pairs),
        edges AS (
          SELECT ba, bb FROM pairs, med WHERE n > m
        ),
        tri AS (
          SELECT e1.ba AS a, e1.bb AS b, e2.bb AS c
          FROM edges e1
          JOIN edges e2 ON e1.bb = e2.ba
          JOIN edges e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
        ),
        member AS (
          SELECT a AS brand FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM member GROUP BY brand
    """,
)
def q185_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle participation in the co-purchase backbone: keep
    only brand pairs whose co-occurrence support is above the median
    (the graph backbone), then count each brand's triangles — the local
    clustering signal community detection and motif analysis start from.

    The standard distributed triangle algorithm: edges oriented by the
    total order on node ids (a < b), so each triangle is enumerated
    exactly once by the edge⋈edge⋈edge chain — two equi-joins on node
    keys, no direction deduplication. Everything happens on the
    brand-vocabulary-sized pair relation: the fact table is touched
    once (distinct map-side), the support cut is one scalar percentile
    broadcast back, and at 100 TB the edge relation is what grows, not
    the algorithm.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    # lazy cut (q222 discipline): the median probe and all three edge
    # references of the triangle chain derive from this brand-pair count
    # table — uncut, each re-derives the fact self-join (12 scans/plan)
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    med = pairs.agg(F.expr("percentile(n, 0.5)").alias("m"))
    edges = pairs.crossJoin(F.broadcast(med)).where(F.col("n") > F.col("m")).select(
        "ba", "bb"
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.bb") == F.col("e2.ba"))
        .join(
            e3,
            (F.col("e3.ba") == F.col("e1.ba")) & (F.col("e3.bb") == F.col("e2.bb")),
        )
        .select(
            F.col("e1.ba").alias("a"),
            F.col("e1.bb").alias("b"),
            F.col("e2.bb").alias("c"),
        )
    )
    # one explode instead of a triple union: unionAll(tri, tri, tri) clones
    # the whole 3-way join subtree (and its scalar percentile) three times
    # in the physical plan
    member = tri.select(
        F.explode(F.array("a", "b", "c")).alias("brand")
    )
    return member.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


# ---------------------------------------------------------------------------
# q195 — customer spend-decile migration matrix (year over year)
# ---------------------------------------------------------------------------
@register(
    "q195_decile_migration",
    tags=("analytics", "cohort", "ntile"),
    oracle="""
        WITH yr AS (
          SELECT CAST(MAX(EXTRACT(year FROM o_orderdate)) - 2 AS BIGINT)
            AS y1
          FROM orders
        ),
        spend AS (
          SELECT o_custkey,
                 CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT s.o_custkey, s.y,
                 CAST(NTILE(10) OVER (
                   PARTITION BY s.y ORDER BY s.cents, s.o_custkey)
                   AS BIGINT) AS decile
          FROM spend s, yr
          WHERE s.y IN (yr.y1, yr.y1 + 1)
        )
        SELECT a.decile AS decile_from, b.decile AS decile_to,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM ranked a
        JOIN ranked b ON a.o_custkey = b.o_custkey AND b.y = a.y + 1
        CROSS JOIN yr
        WHERE a.y = yr.y1
        GROUP BY 1, 2
    """,
)
def q195_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year spend-decile migration matrix: customers ranked
    into spend deciles in two consecutive full years (the last year is
    partial, so years max-2 and max-1), counted per (decile_from,
    decile_to) cell — the loyalty-migration report behind churn-risk
    scoring. Only customers active in BOTH years appear (inner join;
    entry/exit cohorts are q87 growth-accounting's job).

    Spend is BIGINT-cents exact; deciles are NTILE(10) with a full
    deterministic order (spend, then custkey) so bucket boundaries are
    engine-identical; the year bound is a data-derived scalar broadcast.
    One fact-sized shuffle (spend rollup), then year-partitioned windows
    and a self-join on the customer key over two year-sized relations.
    At 100 TB NTILE over a year partition is the only global-ish sort —
    its input is the pre-aggregated customer-year relation, orders of
    magnitude smaller than the facts."""
    o = load_table(spark, sf_dir, "orders")
    yr = o.agg(
        (F.max(F.year("o_orderdate")) - 2).cast("bigint").alias("y1")
    )
    spend = (
        o.groupBy(
            "o_custkey", F.year("o_orderdate").cast("bigint").alias("y")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
    )
    wy = W.partitionBy("y").orderBy("cents", "o_custkey")
    ranked = (
        spend.crossJoin(F.broadcast(yr))
        .where(
            (F.col("y") == F.col("y1")) | (F.col("y") == F.col("y1") + 1)
        )
        .select(
            "o_custkey",
            "y",
            "y1",
            F.ntile(10).over(wy).cast("bigint").alias("decile"),
        )
        # lazy cut: both sides of the year-over-year self-join consume the
        # ranked relation (4 fact scans/plan uncut)
        .localCheckpoint(eager=False)
    )
    a = ranked.where(F.col("y") == F.col("y1")).select(
        "o_custkey", F.col("decile").alias("decile_from"), "y"
    )
    b = ranked.select(
        F.col("o_custkey").alias("bc"),
        F.col("decile").alias("decile_to"),
        F.col("y").alias("by"),
    )
    return (
        a.join(b, (a.o_custkey == b.bc) & (b.by == a.y + 1))
        .groupBy("decile_from", "decile_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# q198 — hierarchical ancestor rollup (org-chart/BOM aggregation, bounded)
# ---------------------------------------------------------------------------
AR_DEPTH = 4  # levels of ancestry each node contributes to (plus itself)


@register(
    "q198_ancestor_rollup",
    tags=("analytics", "hierarchy", "rollup"),
    oracle=f"""
        WITH spend AS (
          SELECT o_custkey AS node,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY 1
        ),
        paths AS (
          SELECT node // CAST(POW(2, j) AS BIGINT) AS ancestor,
                 CAST(j AS BIGINT) AS j, cents
          FROM spend CROSS JOIN (
            SELECT unnest(range(0, {AR_DEPTH + 1})) AS j
          ) lv
          WHERE node // CAST(POW(2, j) AS BIGINT) >= 1
        )
        SELECT ancestor,
               CAST(COUNT(*) AS BIGINT) AS n_contributors,
               CAST(SUM(cents) AS BIGINT) AS subtree_cents,
               CAST(MAX(j) AS BIGINT) AS deepest_level
        FROM paths GROUP BY ancestor
    """,
)
def q198_ancestor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup over an implicit binary referral tree
    (parent(k) = k/2): every customer's spend is credited to its
    ancestors up to AR_DEPTH levels above it — the bounded-depth
    org-chart / bill-of-materials aggregation.

    The classic trap is an iterative parent-join per level (AR_DEPTH
    shuffles) or a recursive CTE (unbounded). With a computable parent
    function the ancestor PATH is closed-form, so the whole rollup is
    ONE map-side explode of (AR_DEPTH+1) (ancestor, contribution) pairs
    per node followed by ONE hash aggregation — the same shape as q193's
    offset explode: blowup bounded by depth, independent of data volume,
    skew limited to log-depth fan-in near the root (the top node absorbs
    at most 2^AR_DEPTH+... contributors here, and a production
    materialized-path hierarchy would explode its stored path array the
    same way). Spend is BIGINT-cents exact."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("node")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    paths = (
        spend.select(
            "node",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(AR_DEPTH))).alias("j"),
        )
        .select(
            F.expr("node div shiftleft(1L, j)").alias("ancestor"),
            F.col("j").cast("bigint").alias("j"),
            "cents",
        )
        .where(F.col("ancestor") >= 1)
    )
    return paths.groupBy("ancestor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contributors"),
        F.sum("cents").cast("bigint").alias("subtree_cents"),
        F.max("j").cast("bigint").alias("deepest_level"),
    )


# ---------------------------------------------------------------------------
# q199 — item-item collaborative filtering (cosine over co-purchase counts)
# ---------------------------------------------------------------------------
CF_TOPK = 5
CF_MIN_CO = 2  # ignore pairs co-purchased in fewer than 2 orders


@register(
    "q199_item_item_cf",
    tags=("analytics", "recommender", "similarity"),
    oracle=f"""
        WITH basket AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        item_n AS (
          SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
          FROM basket GROUP BY 1
        ),
        co AS (
          SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM basket a JOIN basket b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= {CF_MIN_CO}
        ),
        sym AS (
          SELECT p1 AS item, p2 AS neighbor, c FROM co
          UNION ALL
          SELECT p2 AS item, p1 AS neighbor, c FROM co
        ),
        scored AS (
          SELECT s.item, s.neighbor,
                 CAST(s.c AS DOUBLE)
                   / sqrt(CAST(ni.n AS DOUBLE) * CAST(nn.n AS DOUBLE))
                   AS cosine,
                 s.c
          FROM sym s
          JOIN item_n ni ON s.item = ni.l_partkey
          JOIN item_n nn ON s.neighbor = nn.l_partkey
        )
        SELECT item, neighbor, cosine, c AS co_orders,
               CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY item ORDER BY cosine DESC, neighbor) AS rk
          FROM scored
        ) t WHERE rk <= {CF_TOPK}
    """,
)
def q199_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-{CF_TOPK} most similar
    parts per part by cosine over binary co-purchase vectors
    (cos = |A∩B| / sqrt(|A|·|B|) on order sets) — the classic
    neighborhood recommender.

    The co-occurrence join is the q103 concern inverted: joining the
    basket relation to itself on the order key bounds output by the
    per-order basket size squared (baskets are small and bounded by
    schema, never corpus-sized) — NOT an item×item matrix. Counts and
    norms are exact integers; cosine is one closing expression; the
    per-item ranking window runs over candidate lists already cut to
    co-purchased items with support ≥ {CF_MIN_CO}. At 100 TB: identical
    plan with the basket relation bucketed by order key, plus a
    frequent-item cap (the q38 salting discipline) for items in
    millions of baskets."""
    li = load_table(spark, sf_dir, "lineitem")
    # lazy cut: the basket relation feeds the item norms and BOTH sides of
    # the co-occurrence self-join (audit: 6 fact scans/plan uncut) — the
    # same shuffle-scale materialization bargain as the dedup shingle
    # relation; at 100 TB this is the bucketed-by-order relation
    basket = (
        li.select("l_orderkey", "l_partkey").distinct()
        .localCheckpoint(eager=False)
    )
    item_n = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = basket.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = basket.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2")
    )
    co = (
        a.join(b, (a.l_orderkey == b.ok2) & (a.p1 < b.p2))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .where(F.col("c") >= CF_MIN_CO)
        .localCheckpoint(eager=False)  # both symmetrization branches reuse
    )
    sym = co.select(
        F.col("p1").alias("item"), F.col("p2").alias("neighbor"), "c"
    ).unionByName(
        co.select(
            F.col("p2").alias("item"), F.col("p1").alias("neighbor"), "c"
        )
    )
    ni = item_n.select(F.col("l_partkey").alias("item"), F.col("n").alias("n_i"))
    nn = item_n.select(
        F.col("l_partkey").alias("neighbor"), F.col("n").alias("n_j")
    )
    scored = (
        sym.join(ni, "item")
        .join(nn, "neighbor")
        .select(
            "item",
            "neighbor",
            (
                F.col("c").cast("double")
                / F.sqrt(F.col("n_i").cast("double") * F.col("n_j").cast("double"))
            ).alias("cosine"),
            "c",
        )
    )
    wk = W.partitionBy("item").orderBy(F.col("cosine").desc(), "neighbor")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .where(F.col("rk") <= CF_TOPK)
        .select(
            "item", "neighbor", "cosine", F.col("c").alias("co_orders"), "rk"
        )
    )


# ---------------------------------------------------------------------------
# q205 — Mahalanobis bivariate outliers (multivariate anomaly gate)
# ---------------------------------------------------------------------------
MAHA_TOPK = 10  # flagged rows per return-flag segment


@register(
    "q205_mahalanobis_outliers",
    tags=("stats", "anomaly", "multivariate"),
    oracle=f"""
        WITH pts AS (
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 CAST(round(l_quantity * 100) AS BIGINT) AS xq,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS yq
          FROM lineitem
        ),
        m AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(yq AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(xq AS DECIMAL(38,0))
                          * CAST(xq AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(yq AS DECIMAL(38,0))
                          * CAST(yq AS DECIMAL(38,0))) AS DOUBLE) AS syy,
                 CAST(SUM(CAST(xq AS DECIMAL(38,0))
                          * CAST(yq AS DECIMAL(38,0))) AS DOUBLE) AS sxy
          FROM pts GROUP BY l_returnflag HAVING COUNT(*) >= 3
        ),
        cov AS (
          SELECT l_returnflag, n, sx / n AS mux, sy / n AS muy,
                 (n * sxx - sx * sx) / (n * (n - 1)) AS vxx,
                 (n * syy - sy * sy) / (n * (n - 1)) AS vyy,
                 (n * sxy - sx * sy) / (n * (n - 1)) AS vxy
          FROM m
        ),
        scored AS (
          SELECT p.l_orderkey, p.l_linenumber, p.l_returnflag,
                 (c.vyy * (CAST(p.xq AS DOUBLE) - c.mux)
                    * (CAST(p.xq AS DOUBLE) - c.mux)
                  - 2 * c.vxy * (CAST(p.xq AS DOUBLE) - c.mux)
                    * (CAST(p.yq AS DOUBLE) - c.muy)
                  + c.vxx * (CAST(p.yq AS DOUBLE) - c.muy)
                    * (CAST(p.yq AS DOUBLE) - c.muy))
                 / (c.vxx * c.vyy - c.vxy * c.vxy) AS d2
          FROM pts p JOIN cov c ON p.l_returnflag = c.l_returnflag
        )
        SELECT l_returnflag, l_orderkey, CAST(l_linenumber AS BIGINT)
                 AS l_linenumber, d2, CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY d2 DESC, l_orderkey, l_linenumber) AS rk
          FROM scored
        ) t WHERE rk <= {MAHA_TOPK}
    """,
)
def q205_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier gate: the top-{MAHA_TOPK} (quantity, price)
    points per return-flag segment by squared Mahalanobis distance —
    the correlation-aware anomaly score that univariate z-gates (q49,
    q158) cannot express (a cheap large order is anomalous even when
    both coordinates are individually unremarkable).

    The 2x2 covariance inverts in closed form, so the whole operator is:
    one exact DECIMAL moment reduce per segment (5 sums + count), a
    broadcast of the per-segment scalars back onto the facts, a
    map-side quadratic-form expression — identical text both engines,
    floats only in the closing arithmetic on exact inputs — and a
    per-segment top-k window. At 100 TB: one fact shuffle for the
    moments, one broadcast join, one TakeOrdered-shaped rank; the
    d-dimensional generalization swaps the closed form for a
    driver-side dxd inverse (scalar state, the q194 discipline)."""
    # spread_key: ×1.79 at local[4], ×1.82 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    pts = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("xq"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("yq"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = (
        pts.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(dec("xq")).cast("double").alias("sx"),
            F.sum(dec("yq")).cast("double").alias("sy"),
            F.sum(dec("xq") * dec("xq")).cast("double").alias("sxx"),
            F.sum(dec("yq") * dec("yq")).cast("double").alias("syy"),
            F.sum(dec("xq") * dec("yq")).cast("double").alias("sxy"),
        )
        .where(F.col("n") >= 3)
    )
    cov = m.select(
        "l_returnflag",
        (F.col("sx") / F.col("n")).alias("mux"),
        (F.col("sy") / F.col("n")).alias("muy"),
        ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
         / (F.col("n") * (F.col("n") - 1))).alias("vxx"),
        ((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
         / (F.col("n") * (F.col("n") - 1))).alias("vyy"),
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n") * (F.col("n") - 1))).alias("vxy"),
    )
    dx = F.col("xq").cast("double") - F.col("mux")
    dy = F.col("yq").cast("double") - F.col("muy")
    scored = pts.join(F.broadcast(cov), "l_returnflag").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        (
            (
                F.col("vyy") * dx * dx
                - 2 * F.col("vxy") * dx * dy
                + F.col("vxx") * dy * dy
            )
            / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"))
        ).alias("d2"),
    )
    wk = W.partitionBy("l_returnflag").orderBy(
        F.col("d2").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .where(F.col("rk") <= MAHA_TOPK)
        .select(
            "l_returnflag",
            "l_orderkey",
            F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
            "d2",
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# q210 — calibration curve (reliability diagram) for a propensity score
# ---------------------------------------------------------------------------
CAL_BUCKETS = 10


@register(
    "q210_calibration_curve",
    tags=("ml-eval", "calibration", "window"),
    oracle=f"""
        WITH yr AS (
          SELECT CAST(MAX(EXTRACT(year FROM o_orderdate)) - 1 AS BIGINT) AS y1
          FROM orders
        ),
        actives AS (
          SELECT DISTINCT o_custkey
          FROM orders, yr
          WHERE EXTRACT(year FROM o_orderdate) = yr.y1
        ),
        ranked AS (
          SELECT c_custkey,
                 ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS r,
                 COUNT(*) OVER () - 1 AS nm1,
                 CASE WHEN c_custkey IN (SELECT o_custkey FROM actives)
                      THEN 1 ELSE 0 END AS y
          FROM customer
        )
        SELECT LEAST(r * {CAL_BUCKETS} // nm1, {CAL_BUCKETS - 1}) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(r) AS DOUBLE) / (CAST(nm1 AS DOUBLE) * COUNT(*))
                 AS mean_score,
               CAST(SUM(y) AS DOUBLE) / COUNT(*) AS empirical_rate
        FROM ranked
        GROUP BY 1, nm1
    """,
)
def q210_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a propensity score: customers scored by
    their account-balance percentile (the stand-in model), bucketed into
    {CAL_BUCKETS} score deciles, each bucket reporting mean predicted
    score vs the empirical rate of the outcome (placed an order in the
    last FULL year) — the calibration check every deployed scoring model
    ships with.

    Exactness discipline: the score is never materialized as a float —
    bucket = (rank*{CAL_BUCKETS}) div (n-1) is pure integer arithmetic,
    and mean_score reconstructs Σ percent_rank per bucket from the exact
    integer rank sum with ONE closing division (averaging per-row float
    scores would be shuffle-order dependent). The outcome label is a
    broadcast semi-join flag. The only global window is the rank over
    customers — at 100 TB the score would come from a model table and
    the rank from a pre-computed quantile index (q118's cuts), keeping
    this plan windowless."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    yr = o.agg(
        (F.max(F.year("o_orderdate")) - 1).cast("bigint").alias("y1")
    )
    actives = (
        o.crossJoin(F.broadcast(yr))
        .where(F.year("o_orderdate") == F.col("y1"))
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    wr = W.orderBy("c_acctbal", "c_custkey")
    ranked = (
        c.join(F.broadcast(actives), c.c_custkey == F.col("k"), "left")
        .select(
            "c_custkey",
            "c_acctbal",
            F.when(F.col("k").isNotNull(), 1).otherwise(0).alias("y"),
        )
        .withColumn("r", F.row_number().over(wr).cast("bigint") - 1)
        .withColumn(
            "nm1", F.count(F.lit(1)).over(W.partitionBy()).cast("bigint") - 1
        )
    )
    return (
        ranked.groupBy(
            F.least(
                F.expr(f"r * {CAL_BUCKETS} div nm1"),
                F.lit(CAL_BUCKETS - 1).cast("bigint"),
            ).alias("bucket"),
            "nm1",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (
                F.sum("r").cast("double")
                / (F.col("nm1").cast("double") * F.count(F.lit(1)))
            ).alias("mean_score"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias(
                "empirical_rate"
            ),
        )
        .drop("nm1")
    )


# ---------------------------------------------------------------------------
# q216 — closed-form 2-D PCA of the customer (frequency, monetary) cloud
# ---------------------------------------------------------------------------
# Eigen-analysis without a linear-algebra library: for two features the
# covariance matrix is 2x2, so the spectrum has a closed form
#     lam = ((vx+vy) +/- sqrt((vx-vy)^2 + 4 cov^2)) / 2
# and the whole decomposition reduces to one scalar aggregate of exact
# moment sums (n, Sx, Sy, Sxx, Syy, Sxy — DECIMAL, order-independent)
# followed by +-*/sqrt arithmetic on a single row. That is the 100 TB
# shape for ANY fixed-k covariance spectrum: moments are map-side partial
# sums, the eigenproblem never touches the cluster. (The d-dimensional
# cousin is q204's Gram matrix + q166's power iteration.)
#
# The expression strings are SHARED between the Spark plan and the DuckDB
# oracle so both engines evaluate the same IEEE tree on the same exact
# inputs — +,-,*,/ and sqrt are all correctly rounded, so the hashes match
# bit-for-bit.
_PCA_MOM = {
    "vx": "(sxx - sx * sx / n) / n",
    "vy": "(syy - sy * sy / n) / n",
    "cxy": "(sxy - sx * sy / n) / n",
}
_PCA_EIG = {
    "lam1": "((vx + vy) + sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy)) / 2",
    "lam2": "((vx + vy) - sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy)) / 2",
}
_PCA_OUT = {
    "explained_ratio": "lam1 / (lam1 + lam2)",
    "pc1_f": "cxy / sqrt(cxy * cxy + (lam1 - vx) * (lam1 - vx))",
    "pc1_m": "(lam1 - vx) / sqrt(cxy * cxy + (lam1 - vx) * (lam1 - vx))",
}


@register(
    "q216_pca2d",
    tags=("stats", "pca", "eigen"),
    oracle=f"""
        WITH per_cust AS (
          SELECT o_custkey,
                 CAST(COUNT(*) AS DOUBLE) AS f,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS m
          FROM orders GROUP BY o_custkey
        ),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(f AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(f * f AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(m * m AS DECIMAL(28,6))) AS DOUBLE) AS syy,
                 CAST(SUM(CAST(f * m AS DECIMAL(28,6))) AS DOUBLE) AS sxy
          FROM per_cust
        ),
        mom AS (
          SELECT n, {_PCA_MOM['vx']} AS vx, {_PCA_MOM['vy']} AS vy,
                 {_PCA_MOM['cxy']} AS cxy
          FROM stats
        ),
        eig AS (
          SELECT n, vx, vy, cxy, {_PCA_EIG['lam1']} AS lam1,
                 {_PCA_EIG['lam2']} AS lam2
          FROM mom
        )
        SELECT CAST(n AS BIGINT) AS n_customers, vx, vy, cxy, lam1, lam2,
               {_PCA_OUT['explained_ratio']} AS explained_ratio,
               {_PCA_OUT['pc1_f']} AS pc1_f,
               {_PCA_OUT['pc1_m']} AS pc1_m
        FROM eig
    """,
)
def q216_pca2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal axis of the per-customer (order count, total spend) cloud:
    closed-form eigendecomposition of the 2x2 covariance matrix from one
    exact-moment aggregate (see block comment — map-side partial sums, the
    eigenproblem is a single-row expression, no linear-algebra library and
    no collect). Emits variances, covariance, eigenvalues, explained-
    variance ratio, and the unit PC1 direction.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("double").alias("f"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("m"),
    )
    stats = per_cust.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("f").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.col("m").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("f") * F.col("f")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("m") * F.col("m")).cast("decimal(28,6)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("f") * F.col("m")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxy"),
    )
    mom = stats.selectExpr(
        "n",
        f"{_PCA_MOM['vx']} AS vx",
        f"{_PCA_MOM['vy']} AS vy",
        f"{_PCA_MOM['cxy']} AS cxy",
    )
    eig = mom.selectExpr(
        "n", "vx", "vy", "cxy",
        f"{_PCA_EIG['lam1']} AS lam1",
        f"{_PCA_EIG['lam2']} AS lam2",
    )
    return eig.selectExpr(
        "CAST(n AS BIGINT) AS n_customers",
        "vx", "vy", "cxy", "lam1", "lam2",
        f"{_PCA_OUT['explained_ratio']} AS explained_ratio",
        f"{_PCA_OUT['pc1_f']} AS pc1_f",
        f"{_PCA_OUT['pc1_m']} AS pc1_m",
    )


# ---------------------------------------------------------------------------
# q218 — NDCG@10: graded ranking quality of a predicted ordering
# ---------------------------------------------------------------------------
# The retrieval/recommender evaluation metric: does ranking suppliers by
# account balance (the "predicted" ordering) recover the ordering by actual
# fulfilled volume (the graded relevance)? NDCG@k = DCG@k / IDCG@k with
# DCG = sum rel_i / log2(i+1). Logarithms are NOT cross-engine
# reproducible, but the discounts only ever apply to ranks 1..10 — so the
# discount column is a LITERAL lookup (log2 values precomputed to 15
# digits), shared textually between the Spark plan and the DuckDB oracle.
# This also makes the metric libm-free at any scale.
#
# Scale shape: relevance is one keyed fact aggregate; both orderings are
# per-group row_number windows (partitioned by nation — no global sort);
# DCG sums go through DECIMAL so partial-aggregation order can't shift the
# hash. Complements q209 (set-overlap recall) with a graded, position-
# discounted metric.
_NDCG_K = 10
_NDCG_DISC = "CASE rn WHEN 1 THEN CAST(1.0 AS DOUBLE) WHEN 2 THEN CAST(0.630929753571458 AS DOUBLE) WHEN 3 THEN CAST(0.5 AS DOUBLE) WHEN 4 THEN CAST(0.430676558073393 AS DOUBLE) WHEN 5 THEN CAST(0.386852807234542 AS DOUBLE) WHEN 6 THEN CAST(0.356207187108022 AS DOUBLE) WHEN 7 THEN CAST(0.333333333333333 AS DOUBLE) WHEN 8 THEN CAST(0.315464876785729 AS DOUBLE) WHEN 9 THEN CAST(0.301029995663981 AS DOUBLE) WHEN 10 THEN CAST(0.289064826317888 AS DOUBLE) END"  # literals cast to DOUBLE on both engines (bare decimal literals parse as DECIMAL with engine-specific rounding)


@register(
    "q218_ndcg_ranking",
    tags=("ranking", "evaluation", "window"),
    oracle=f"""
        WITH rel AS (
          SELECT s.s_suppkey, s.s_nationkey, s.s_acctbal,
                 CAST(COALESCE(cnt.c, 0) AS BIGINT) AS rel
          FROM supplier s
          LEFT JOIN (SELECT l_suppkey, COUNT(*) AS c
                     FROM lineitem GROUP BY l_suppkey) cnt
            ON s.s_suppkey = cnt.l_suppkey
        ),
        pred AS (
          SELECT s_nationkey, rel,
                 ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                    ORDER BY s_acctbal DESC, s_suppkey) AS rn
          FROM rel
        ),
        ideal AS (
          SELECT s_nationkey, rel,
                 ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                    ORDER BY rel DESC, s_suppkey) AS rn
          FROM rel
        ),
        d AS (
          SELECT s_nationkey,
                 CAST(SUM(CAST(rel * ({_NDCG_DISC}) AS DECIMAL(28,6)))
                      AS DOUBLE) AS dcg
          FROM pred WHERE rn <= {_NDCG_K} GROUP BY s_nationkey
        ),
        i AS (
          SELECT s_nationkey,
                 CAST(SUM(CAST(rel * ({_NDCG_DISC}) AS DECIMAL(28,6)))
                      AS DOUBLE) AS idcg
          FROM ideal WHERE rn <= {_NDCG_K} GROUP BY s_nationkey
        )
        SELECT n.n_name AS nation, d.dcg, i.idcg,
               CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0.0 END
                 AS ndcg_at_10
        FROM d
        JOIN i ON d.s_nationkey = i.s_nationkey
        JOIN nation n ON n.n_nationkey = d.s_nationkey
    """,
)
def q218_ndcg_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per nation of the balance-predicted supplier ranking against
    fulfilled-volume relevance (literal log2 discounts — libm-free; see
    block comment). Per-group windows only, DECIMAL-exact DCG sums."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    nat = load_table(spark, sf_dir, "nation")
    cnt = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    rel = sup.join(cnt, sup.s_suppkey == cnt.l_suppkey, "left").select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("rel"),
    )
    w_pred = W.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), "s_suppkey"
    )
    w_ideal = W.partitionBy("s_nationkey").orderBy(
        F.col("rel").desc(), "s_suppkey"
    )

    def dcg_of(ranked: DataFrame, out: str) -> DataFrame:
        return (
            ranked.where(F.col("rn") <= _NDCG_K)
            .select(
                "s_nationkey",
                F.expr(f"CAST(rel * ({_NDCG_DISC}) AS DECIMAL(28,6))").alias("g"),
            )
            .groupBy("s_nationkey")
            .agg(F.sum("g").cast("double").alias(out))
        )

    d = dcg_of(rel.withColumn("rn", F.row_number().over(w_pred)), "dcg")
    i = dcg_of(rel.withColumn("rn", F.row_number().over(w_ideal)), "idcg")
    return (
        d.join(i, "s_nationkey")
        .join(F.broadcast(nat), d.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "dcg",
            "idcg",
            F.expr(
                "CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END"
            ).alias("ndcg_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# q220 — raking / iterative proportional fitting of sample weights
# ---------------------------------------------------------------------------
# Survey-statistics calibration: a deterministic 10% sample of orders is
# raked so its (region x priority) cell weights reproduce BOTH full-
# population margins — the standard post-stratification fix when a sample
# (or a filtered training subset) is demographically skewed. IPF alternates
# row and column scaling; three rounds are unrolled as expressions (IPF on
# a 5x5 table converges geometrically, and a FIXED unroll keeps the whole
# computation one declarative plan — no driver loop, no collect).
#
# Scale shape: facts reduce to a 25-cell relation + two 5-row margins in
# ONE pass each; every subsequent step is window arithmetic over 25 rows.
# Margin sums inside the rounds go through DECIMAL(28,12) so the scaling
# factors are accumulation-order independent; everything else is
# correctly-rounded double arithmetic with textually shared expressions.
_IPF_SAMPLE_MOD = 10  # o_orderkey % 10 = 0 -> the "skewed" 10% sample


def _ipf_round(w: str) -> tuple[str, str]:
    """One IPF round: scale to region margins, then priority margins.
    Returns (row-step expr, col-step expr template using 'WROW')."""
    # margin sums go through ROUND(x*1e6)->BIGINT (half-away in BOTH
    # engines) rather than CAST AS DECIMAL (whose half-boundary rule
    # differs between them — the q185 lesson): integer sums are exact
    # and order-free, and the /1e6 rescale is correctly rounded.
    row = (
        f"{w} * (tr / (CAST(SUM(CAST(ROUND({w} * 1000000.0) AS BIGINT)) "
        "OVER (PARTITION BY region) AS DOUBLE) / 1000000.0))"
    )
    col = (
        "WROW * (tp / (CAST(SUM(CAST(ROUND(WROW * 1000000.0) AS BIGINT)) "
        "OVER (PARTITION BY priority) AS DOUBLE) / 1000000.0))"
    )
    return row, col


@register(
    "q220_raking_ipf",
    tags=("stats", "calibration", "sampling"),
    oracle=f"""
        WITH labeled AS (
          SELECT o.o_orderkey, o.o_orderpriority AS priority, r.r_name AS region
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        cells AS (
          SELECT region, priority,
                 CAST(COUNT(*) AS DOUBLE) AS w0,
                 CAST(COUNT(*) AS BIGINT) AS n_sample
          FROM labeled WHERE o_orderkey % {_IPF_SAMPLE_MOD} = 0
          GROUP BY region, priority
        ),
        tr AS (SELECT region, CAST(COUNT(*) AS DOUBLE) AS tr
               FROM labeled GROUP BY region),
        tp AS (SELECT priority, CAST(COUNT(*) AS DOUBLE) AS tp
               FROM labeled GROUP BY priority),
        base AS (
          SELECT cells.region, cells.priority, n_sample, w0, tr.tr, tp.tp
          FROM cells JOIN tr ON cells.region = tr.region
                     JOIN tp ON cells.priority = tp.priority
        ),
        r1a AS (SELECT *, {_ipf_round('w0')[0]} AS wr1 FROM base),
        r1b AS (SELECT *, {_ipf_round('w0')[1].replace('WROW', 'wr1')} AS w1 FROM r1a),
        r2a AS (SELECT *, {_ipf_round('w1')[0]} AS wr2 FROM r1b),
        r2b AS (SELECT *, {_ipf_round('w1')[1].replace('WROW', 'wr2')} AS w2 FROM r2a),
        r3a AS (SELECT *, {_ipf_round('w2')[0]} AS wr3 FROM r2b),
        r3b AS (SELECT *, {_ipf_round('w2')[1].replace('WROW', 'wr3')} AS w3 FROM r3a)
        SELECT region, priority, n_sample, w3 AS raked_weight,
               w3 / w0 AS expansion_factor
        FROM r3b
    """,
)
def q220_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled IPF rounds raking a deterministic 10% order sample to
    full-population region x priority margins (see block comment: one fact
    pass to a 25-cell relation, then pure window arithmetic; DECIMAL-exact
    margin sums keep every scaling factor engine- and partition-stable)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    labeled = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.col("r_name").alias("region"),
        )
    )
    cells = (
        labeled.where(F.col("o_orderkey") % _IPF_SAMPLE_MOD == 0)
        .groupBy("region", "priority")
        .agg(
            F.count(F.lit(1)).cast("double").alias("w0"),
            F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        )
    )
    tr = labeled.groupBy("region").agg(F.count(F.lit(1)).cast("double").alias("tr"))
    tp = labeled.groupBy("priority").agg(
        F.count(F.lit(1)).cast("double").alias("tp")
    )
    base = cells.join(F.broadcast(tr), "region").join(F.broadcast(tp), "priority")
    step = base
    w = "w0"
    for rnd in (1, 2, 3):
        row_expr, col_expr = _ipf_round(w)
        step = step.selectExpr("*", f"{row_expr} AS wr{rnd}")
        step = step.selectExpr(
            "*", f"{col_expr.replace('WROW', f'wr{rnd}')} AS w{rnd}"
        )
        w = f"w{rnd}"
    return step.selectExpr(
        "region",
        "priority",
        "n_sample",
        "w3 AS raked_weight",
        "w3 / w0 AS expansion_factor",
    )


# ---------------------------------------------------------------------------
# q221 — Poisson-bootstrap confidence interval for the mean order value
# ---------------------------------------------------------------------------
# Resampling inference without RNG state: the Poisson bootstrap draws each
# row's multiplicity in replicate b as Poisson(1), approximated here by
# inverting the Poisson CDF on a uniform derived from md5(row_key || b) —
# fully deterministic, so any engine/partitioning produces the same
# replicate weights (the property classical sampled bootstraps lose on a
# cluster, and the reason Poisson bootstrap IS the distributed idiom:
# no replicate ever needs a global n or a shared sample state — each row
# decides its own multiplicity locally, map-side).
#
# Shape: one fact pass explodes each order into B=32 (replicate, weight)
# pairs (weight 0 rows drop immediately), one hash agg to per-replicate
# weighted means (exact integer cents x integer weights), then order
# statistics over the 32-row relation give the percentile CI. The only
# doubles are final divisions.
_BOOT_B = 32
# Poisson(1) CDF cut points scaled to the md5 %1e6 uniform grid (integer
# thresholds — no float compare at the boundary on either engine)
_BOOT_CUTS = (367879, 735759, 919699, 981012, 996340, 999406, 999917)
_BOOT_W = (
    "CASE "
    + " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(_BOOT_CUTS)
    )
    + " ELSE 7 END"
)


@register(
    "q221_poisson_bootstrap",
    tags=("stats", "bootstrap", "resampling"),
    oracle=f"""
        WITH expanded AS (
          SELECT b.b AS rep,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
                 CAST(concat('0x', substring(md5(CAST(
                     o.o_orderkey * {_BOOT_B} + b.b AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000000 AS u
          FROM orders o
          CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
        ),
        weighted AS (
          SELECT rep, cents, {_BOOT_W} AS w FROM expanded
        ),
        reps AS (
          SELECT rep,
                 CAST(SUM(w * cents) AS DOUBLE)
                   / (100.0 * SUM(w)) AS boot_mean
          FROM weighted WHERE w > 0 GROUP BY rep
        ),
        ranked AS (
          SELECT boot_mean,
                 ROW_NUMBER() OVER (ORDER BY boot_mean, rep) AS rk
          FROM reps
        ),
        full_mean AS (
          SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   / (100.0 * COUNT(*)) AS mean_full
          FROM orders
        )
        SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicates,
               f.mean_full,
               MIN(CASE WHEN rk = 2 THEN boot_mean END) AS ci_lo,
               MIN(CASE WHEN rk = {_BOOT_B - 1} THEN boot_mean END) AS ci_hi
        FROM ranked CROSS JOIN full_mean f
        GROUP BY f.mean_full
    """,
)
def q221_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~95% percentile-bootstrap CI for the mean order value via the
    deterministic Poisson bootstrap (see block comment — map-side local
    multiplicities, per-replicate exact integer sums, 32-row order
    statistics; the distributed bootstrap idiom)."""
    # spread_key: ×2.84 at local[4], ×2.68 at local[8] (SCALING.md "Knob sites")
    o = load_table(spark, sf_dir, "orders", spread_key="o_orderkey")
    reps_src = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).crossJoin(
        F.broadcast(
            spark.range(_BOOT_B).select(F.col("id").cast("bigint").alias("rep"))
        )
    )
    expanded = reps_src.select(
        "rep",
        "cents",
        (
            F.conv(
                F.substring(
                    F.md5(
                        (F.col("o_orderkey") * _BOOT_B + F.col("rep"))
                        .cast("string")
                        .cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).alias("u"),
    )
    weighted = expanded.selectExpr("rep", "cents", f"{_BOOT_W} AS w")
    # The oracle's `WHERE w > 0` is kept SQL-side but deliberately dropped
    # here: zero-weight rows contribute zero to both Σ w·cents and Σ w, so
    # the sums are identical — while the Filter operator forced a second
    # full md5/conv/CASE evaluation per (order, rep) row (whole-stage
    # codegen shares subexpressions within an operator, not across the
    # Filter/Aggregate boundary). Measured 8.0s → 3.8s at sf0.1,
    # bit-identical boot_means. (The only divergence would be a replicate
    # whose 150k draws are ALL zero — P ≈ e^-N, impossible at any SF.)
    reps = (
        weighted
        .groupBy("rep")
        .agg(
            (
                F.sum(F.col("w") * F.col("cents")).cast("double")
                / (100.0 * F.sum("w"))
            ).alias("boot_mean")
        )
    )
    ranked = reps.select(
        "boot_mean",
        F.row_number()
        .over(W.orderBy("boot_mean", "rep"))
        .alias("rk"),
    )
    full_mean = o.agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast(
                "double"
            )
            / (100.0 * F.count(F.lit(1)))
        ).alias("mean_full")
    )
    return (
        ranked.crossJoin(F.broadcast(full_mean))
        .groupBy("mean_full")
        .agg(
            F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
            F.min(F.when(F.col("rk") == 2, F.col("boot_mean"))).alias("ci_lo"),
            F.min(
                F.when(F.col("rk") == _BOOT_B - 1, F.col("boot_mean"))
            ).alias("ci_hi"),
        )
        .select("n_replicates", "mean_full", "ci_lo", "ci_hi")
    )


# ---------------------------------------------------------------------------
# q222 — degree assortativity of the co-purchase backbone graph
# ---------------------------------------------------------------------------
# The graph-level mixing statistic that complements q185's triangle census
# and q212's modularity: Newman's degree assortativity — the Pearson
# correlation of endpoint degrees over the (directed-both-ways) edge list.
# Positive r: hubs link to hubs (hub-and-spoke catalogs behave very
# differently from assortative ones under sampling and under LSH blocking).
#
# Everything reduces on vocabulary-sized relations: same backbone edge
# derivation as q185 (distinct fact pass -> pair support -> median cut),
# then degrees via one hash agg over the edge list, one equi-join to
# decorate each directed edge with endpoint degrees, and a single exact
# integer moment reduce; r is one closing double expression (the q216
# moment-reduce discipline, here with integer sums so there is no decimal
# rounding at all).
@register(
    "q222_degree_assortativity",
    tags=("graph", "stats", "join"),
    oracle="""
        WITH items AS (
          SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        pairs AS (
          SELECT a.brand AS ba, b.brand AS bb, CAST(COUNT(*) AS BIGINT) AS n
          FROM items a JOIN items b
            ON a.okey = b.okey AND a.brand < b.brand
          GROUP BY 1, 2
        ),
        med AS (SELECT quantile_cont(n, 0.5) AS m FROM pairs),
        edges AS (
          SELECT ba, bb FROM pairs, med WHERE n > m
        ),
        directed AS (
          SELECT ba AS x, bb AS y FROM edges
          UNION ALL
          SELECT bb AS x, ba AS y FROM edges
        ),
        deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM directed GROUP BY x),
        decorated AS (
          SELECT dx.d AS j, dy.d AS k
          FROM directed e
          JOIN deg dx ON e.x = dx.x
          JOIN deg dy ON e.y = dy.x
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(j) AS BIGINT) AS sj,
                 CAST(SUM(j * j) AS BIGINT) AS sjj,
                 CAST(SUM(j * k) AS BIGINT) AS sjk
          FROM decorated
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
               m / 2 AS n_edges,
               (CAST(m AS DOUBLE) * sjk - CAST(sj AS DOUBLE) * sj)
                 / (CAST(m AS DOUBLE) * sjj - CAST(sj AS DOUBLE) * sj)
                 AS assortativity
        FROM mom
    """,
)
def q222_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the above-median-support brand
    co-purchase backbone (see block comment — vocabulary-sized joins and
    one exact-integer moment reduce; r is a single closing expression)."""
    # spread_key: ×1.24 at local[4], ×1.26 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    pt = load_table(spark, sf_dir, "part")
    items = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    # lazy cut: every relation below (median, edges, degrees, decorated
    # moments, node count) derives from this brand-pair count table
    # (≤ |brands|² rows), and each reference would otherwise re-derive the
    # lineitem⋈part self-join — the plan audit measured 32 fact scans per
    # run without the cut
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    med = pairs.agg(F.expr("percentile(n, 0.5)").alias("m"))
    edges = pairs.crossJoin(F.broadcast(med)).where(F.col("n") > F.col("m"))
    directed = edges.select(
        F.col("ba").alias("x"), F.col("bb").alias("y")
    ).unionAll(edges.select(F.col("bb").alias("x"), F.col("ba").alias("y")))
    deg = directed.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    dx, dy = deg.alias("dx"), deg.alias("dy")
    decorated = (
        directed.alias("e")
        .join(dx, F.col("e.x") == F.col("dx.x"))
        .join(dy, F.col("e.y") == F.col("dy.x"))
        .select(F.col("dx.d").alias("j"), F.col("dy.d").alias("k"))
    )
    mom = decorated.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("j").cast("bigint").alias("sj"),
        F.sum(F.col("j") * F.col("j")).cast("bigint").alias("sjj"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return mom.crossJoin(F.broadcast(n_nodes)).selectExpr(
        "n_nodes",
        "m / 2 AS n_edges",
        "(CAST(m AS DOUBLE) * sjk - CAST(sj AS DOUBLE) * sj)"
        " / (CAST(m AS DOUBLE) * sjj - CAST(sj AS DOUBLE) * sj)"
        " AS assortativity",
    )


# ---------------------------------------------------------------------------
# q226 — 1-D earth mover's distance: regional price mix vs the global mix
# ---------------------------------------------------------------------------
# Optimal-transport drift: W1 between each region's order-value
# distribution and the corpus-wide one. In 1-D the transport problem has
# the closed form W1 = ∫|CDF_a − CDF_b|, so on a bucketed value grid it is
# a cumulative-window + absolute-difference sum — no solver. W1 reads in
# value units ("average dollars each order must move"), which q101's KS
# statistic (a sup-norm probability) cannot give; together they cover both
# drift geometries.
#
# Shape: one labeled fact pass to (region, bucket) counts, a dense bucket
# grid (sequence over the ~120-bucket value range), per-region cumulative
# windows (partitioned by region — never SinglePartition), |ΔCDF| terms
# quantized to integer nano-units (ROUND, half-away both engines) so the
# final sums are exact. Scale: everything after the fact pass is
# grid × regions sized.
_EMD_BUCKET = 5000  # dollars per histogram bucket


@register(
    "q226_emd_regions",
    bench=True,
    tags=("stats", "drift", "transport"),
    oracle=f"""
        WITH vals AS (
          SELECT r.r_name AS region,
                 CAST(ROUND(o.o_totalprice) AS BIGINT) // {_EMD_BUCKET} AS bucket
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        rh AS (SELECT region, bucket, CAST(COUNT(*) AS BIGINT) AS c
               FROM vals GROUP BY 1, 2),
        gh AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
               FROM vals GROUP BY 1),
        nr AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n
               FROM vals GROUP BY 1),
        ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
        mb AS (SELECT MAX(bucket) AS m FROM vals),
        grid AS (
          SELECT rr.region, gg.b
          FROM (SELECT DISTINCT region FROM vals) rr
          CROSS JOIN (SELECT unnest(range(0, m + 1)) AS b FROM mb) gg
        ),
        cum AS (
          SELECT grid.region, grid.b,
                 SUM(COALESCE(rh.c, 0)) OVER (PARTITION BY grid.region
                                              ORDER BY grid.b) AS cr,
                 SUM(COALESCE(gh.c, 0)) OVER (PARTITION BY grid.region
                                              ORDER BY grid.b) AS cg
          FROM grid
          LEFT JOIN rh ON grid.region = rh.region AND grid.b = rh.bucket
          LEFT JOIN gh ON grid.b = gh.bucket
        ),
        terms AS (
          SELECT cum.region,
                 CAST(ROUND(1000000000.0 * abs(
                   CAST(cum.cr AS DOUBLE) / nr.n
                   - CAST(cum.cg AS DOUBLE) / ng.n)) AS BIGINT) AS t
          FROM cum JOIN nr ON cum.region = nr.region CROSS JOIN ng
        )
        SELECT t.region, nr.n AS n_orders,
               CAST(SUM(t.t) AS DOUBLE) / 1000000000.0 * {_EMD_BUCKET}
                 AS emd_dollars
        FROM terms t JOIN nr ON t.region = nr.region
        GROUP BY t.region, nr.n
    """,
)
def q226_emd_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (earth mover's) distance between each region's order-value
    distribution and the global one, via the 1-D closed form over a
    bucketed grid (see block comment — cumulative windows partitioned by
    region, integer-quantized terms)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    vals = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.expr(
                f"CAST(ROUND(o_totalprice) AS BIGINT) div {_EMD_BUCKET}"
            ).alias("bucket"),
        )
    )
    # ONE pass over the fact join reduces it to the (region, bucket) count
    # table (regions × ~120 buckets ≈ 600 rows); the global histogram,
    # region/global totals, grid bound, and region list are all
    # re-aggregations of that tiny relation. The previous version derived
    # each directly from `vals`, re-evaluating the orders⋈customer join
    # six times per run. The checkpoint is LAZY: it materializes inside
    # the query's own job the first time a consumer stage needs it (no
    # separate synchronous job), then the other five consumers read the
    # cached 600 rows — 1.6s -> ~1.0s median at sf0.1 vs the eager cut.
    rh = (
        vals.groupBy("region", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    gh = rh.groupBy("bucket").agg(F.sum("c").cast("bigint").alias("gc"))
    nr = rh.groupBy("region").agg(F.sum("c").cast("bigint").alias("n"))
    ng = rh.agg(F.sum("c").cast("bigint").alias("gn"))
    mb = rh.agg(F.max("bucket").alias("m"))
    grid = (
        rh.select("region")
        .distinct()
        .crossJoin(
            F.broadcast(mb).select(F.explode(F.expr("sequence(0, m)")).alias("b"))
        )
    )
    cum = (
        grid.join(
            rh,
            (grid.region == rh.region) & (grid.b == rh.bucket),
            "left",
        )
        .select(grid.region, grid.b, F.coalesce("c", F.lit(0)).alias("c"))
        .join(gh, F.col("b") == gh.bucket, "left")
        .select(
            "region", "b", "c", F.coalesce("gc", F.lit(0)).alias("gc")
        )
        .select(
            "region",
            "b",
            F.sum("c")
            .over(W.partitionBy("region").orderBy("b"))
            .alias("cr"),
            F.sum("gc")
            .over(W.partitionBy("region").orderBy("b"))
            .alias("cg"),
        )
    )
    terms = (
        cum.join(F.broadcast(nr), "region")
        .crossJoin(F.broadcast(ng))
        .select(
            "region",
            "n",
            F.expr(
                "CAST(ROUND(1000000000.0 * abs("
                "CAST(cr AS DOUBLE) / n - CAST(cg AS DOUBLE) / gn)) AS BIGINT)"
            ).alias("t"),
        )
    )
    return terms.groupBy("region", "n").agg(
        F.expr(
            f"CAST(SUM(t) AS DOUBLE) / 1000000000.0 * {_EMD_BUCKET}"
        ).alias("emd_dollars")
    ).select("region", F.col("n").alias("n_orders"), "emd_dollars")


# ---------------------------------------------------------------------------
# q227 — split-conformal prediction interval for a per-group regression
# ---------------------------------------------------------------------------
# Distribution-free uncertainty quantification: fit OLS (order value ~
# line count) on a deterministic train half, take the 90th percentile of
# absolute calibration-half residuals — by the conformal guarantee,
# prediction ± q̂ then covers ≥90% of future orders with NO distributional
# assumption. This is the modern ML-adjacent layer over q127's closed-form
# group regression: the same exact-integer moment sums produce the fit,
# and the interval is one exact order statistic per group.
#
# Determinism: the train/cal split is o_orderkey parity (engine-free);
# beta/alpha come from exact BIGINT moments via textually shared
# expressions; residuals are ROUNDed to integer cents before the
# percentile so interpolation happens on identical integers in both
# engines. Exact percentile over the calibration rows is the documented
# oracle-parity tax (q118 discipline — approx_percentile is the 100 TB
# swap).
_CONF_EXPRS = {
    "beta": "(CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)",
    "alpha": "(CAST(sy AS DOUBLE) - ((CAST(k AS DOUBLE) * sxy"
             " - CAST(sx AS DOUBLE) * sy)"
             " / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
             " * sx) / k",
}


@register(
    "q227_conformal_interval",
    tags=("stats", "conformal", "regression"),
    oracle=f"""
        WITH sized AS (
          SELECT o.o_orderkey, o.o_orderpriority AS priority,
                 o.o_orderkey % 2 AS half,
                 CAST(COUNT(*) AS BIGINT) AS x,
                 CAST(ROUND(MIN(o.o_totalprice) * 100) AS BIGINT) AS y
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderkey % 2
        ),
        fit AS (
          SELECT priority,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM sized WHERE half = 0 GROUP BY priority
        ),
        coef AS (
          SELECT priority, k,
                 {_CONF_EXPRS['beta']} AS beta,
                 {_CONF_EXPRS['alpha']} AS alpha
          FROM fit
        ),
        resid AS (
          SELECT s.priority,
                 CAST(ROUND(abs(CAST(s.y AS DOUBLE)
                                - (c.alpha + c.beta * s.x))) AS BIGINT) AS r
          FROM sized s JOIN coef c ON s.priority = c.priority
          WHERE s.half = 1
        )
        SELECT c.priority, c.k AS n_train,
               CAST(COUNT(*) AS BIGINT) AS n_cal,
               c.beta, c.alpha,
               quantile_cont(r.r, 0.9) / 100.0 AS qhat_dollars
        FROM resid r JOIN coef c ON r.priority = c.priority
        GROUP BY c.priority, c.k, c.beta, c.alpha
    """,
)
def q227_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% split-conformal interval half-width per order priority for the
    (order value ~ line count) OLS fit — parity-split halves, exact-moment
    coefficients, integer-cent residual percentile (see block comment)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sized = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            (F.col("o_orderkey") % 2).alias("half"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.round(F.min("o_totalprice") * 100).cast("bigint").alias("y"),
        )
    )
    fit = (
        sized.where(F.col("half") == 0)
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )
    )
    coef = fit.selectExpr(
        "priority",
        "k",
        f"{_CONF_EXPRS['beta']} AS beta",
        f"{_CONF_EXPRS['alpha']} AS alpha",
    )
    # lazy cut: the calibration counts and the grouped residual quantile
    # both consume the residual relation
    resid = (
        sized.where(F.col("half") == 1)
        .join(F.broadcast(coef), "priority")
        .selectExpr(
            "priority",
            "k",
            "beta",
            "alpha",
            "CAST(ROUND(abs(CAST(y AS DOUBLE) - (alpha + beta * x)))"
            " AS BIGINT) AS r",
        )
        .localCheckpoint(eager=False)
    )
    # per-priority 0.9 residual quantile via the blocked-rank selection
    # (bit-identical to `percentile`); the builtin's per-group buffer held
    # every calibration residual of a priority — order-count-sized at
    # 100 TB with only 5 groups. Raw-row ranking (r10): the probe
    # reproduces the r9 call — cent-scale residuals are near-unique per
    # priority and `resid` is already a checkpoint, so raw-row ranking
    # measured 1.77s vs 2.13s at sf0.1
    qh = distributed_grouped_quantiles(
        resid, ["priority"], "r", [0.9], probe_key=f"q227:{sf_dir}"
    ).select("priority", (F.col("c")[0] / 100.0).alias("qhat_dollars"))
    return (
        resid.groupBy("priority", "k", "beta", "alpha")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
        .join(F.broadcast(qh), "priority")
        .select(
            "priority",
            F.col("k").alias("n_train"),
            "n_cal",
            "beta",
            "alpha",
            "qhat_dollars",
        )
    )


# ---------------------------------------------------------------------------
# q228 — geometric median of the customer cloud (Weiszfeld, unrolled)
# ---------------------------------------------------------------------------
# Robust 2-D location estimation: the geometric median minimizes the sum
# of Euclidean distances and shrugs off the outliers that wreck the
# component-wise mean. Weiszfeld's iteration
#     c_{k+1} = Σ(p_i / d_i(c_k)) / Σ(1 / d_i(c_k))
# is three unrolled rounds here, seeded at the mean: each round is ONE
# scalar aggregate over the per-customer relation with the previous center
# broadcast — the iterative-refinement shape that runs at any scale (3
# passes over a keyed aggregate, no driver loop state beyond the plan).
#
# Determinism: distances are sqrt of correctly-rounded double arithmetic
# on exact coordinates (order count, exact-cent spend dollars); each round's
# three sums are quantized to 1e-12-resolution integers with ROUND
# (half-away on both engines) so accumulation order cannot shift the
# center. d=0 terms are guarded out identically on both sides.
_WEISZ_Q = "1000000000000.0"  # 1e12 quantization for the weighted sums


def _weisz_round(cx: str, cy: str) -> dict[str, str]:
    d = f"sqrt((f - {cx}) * (f - {cx}) + (m - {cy}) * (m - {cy}))"
    return {
        "nx": f"SUM(CASE WHEN {d} > 0 THEN CAST(ROUND({_WEISZ_Q} * f / {d}) AS BIGINT) ELSE CAST(0 AS BIGINT) END)",
        "ny": f"SUM(CASE WHEN {d} > 0 THEN CAST(ROUND({_WEISZ_Q} * m / {d}) AS BIGINT) ELSE CAST(0 AS BIGINT) END)",
        "dn": f"SUM(CASE WHEN {d} > 0 THEN CAST(ROUND({_WEISZ_Q} / {d}) AS BIGINT) ELSE CAST(0 AS BIGINT) END)",
    }


@register(
    "q228_geometric_median",
    tags=("stats", "robust", "iterative"),
    oracle=f"""
        WITH pts AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS f,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS DOUBLE) / 100.0 AS m,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey
        ),
        c0 AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(f AS BIGINT)) AS DOUBLE) / COUNT(*) AS cx,
                 CAST(SUM(cents) AS DOUBLE) / (100.0 * COUNT(*)) AS cy
          FROM pts
        ),
        r1 AS (
          SELECT n, {_weisz_round('c0.cx', 'c0.cy')['nx']} AS nx,
                    {_weisz_round('c0.cx', 'c0.cy')['ny']} AS ny,
                    {_weisz_round('c0.cx', 'c0.cy')['dn']} AS dn
          FROM pts CROSS JOIN c0 GROUP BY n
        ),
        c1 AS (SELECT n, CAST(nx AS DOUBLE) / dn AS cx,
                      CAST(ny AS DOUBLE) / dn AS cy FROM r1),
        r2 AS (
          SELECT n, {_weisz_round('c1.cx', 'c1.cy')['nx']} AS nx,
                    {_weisz_round('c1.cx', 'c1.cy')['ny']} AS ny,
                    {_weisz_round('c1.cx', 'c1.cy')['dn']} AS dn
          FROM pts CROSS JOIN c1 GROUP BY n
        ),
        c2 AS (SELECT n, CAST(nx AS DOUBLE) / dn AS cx,
                      CAST(ny AS DOUBLE) / dn AS cy FROM r2),
        r3 AS (
          SELECT n, {_weisz_round('c2.cx', 'c2.cy')['nx']} AS nx,
                    {_weisz_round('c2.cx', 'c2.cy')['ny']} AS ny,
                    {_weisz_round('c2.cx', 'c2.cy')['dn']} AS dn
          FROM pts CROSS JOIN c2 GROUP BY n
        )
        SELECT r3.n AS n_customers,
               c0.cx AS mean_f, c0.cy AS mean_m,
               CAST(r3.nx AS DOUBLE) / r3.dn AS gmed_f,
               CAST(r3.ny AS DOUBLE) / r3.dn AS gmed_m
        FROM r3 CROSS JOIN c0
    """,
)
def q228_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of per-customer (order count, spend dollars) via
    three unrolled Weiszfeld rounds seeded at the mean (see block comment
    — one scalar reduce per round, quantized weighted sums, broadcast
    center). Emits the mean alongside for the robustness contrast."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("double").alias("f"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double")
            / 100.0
        ).alias("m"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    ).localCheckpoint(eager=False)  # lazy cut: seed + 3 Weiszfeld rounds reuse
    c0 = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("f").cast("bigint")).cast("double") / F.count(F.lit(1))).alias("cx"),
        (F.sum("cents").cast("double") / (100.0 * F.count(F.lit(1)))).alias("cy"),
    )
    center = c0
    for _ in range(3):
        exprs = _weisz_round("cx", "cy")
        r = (
            pts.crossJoin(F.broadcast(center))
            .groupBy("n")
            .agg(
                F.expr(exprs["nx"]).alias("nx"),
                F.expr(exprs["ny"]).alias("ny"),
                F.expr(exprs["dn"]).alias("dn"),
            )
        )
        center = r.selectExpr(
            "n",
            "CAST(nx AS DOUBLE) / dn AS cx",
            "CAST(ny AS DOUBLE) / dn AS cy",
        )
    return center.crossJoin(
        F.broadcast(c0.selectExpr("cx AS mean_f", "cy AS mean_m"))
    ).selectExpr(
        "n AS n_customers",
        "mean_f",
        "mean_m",
        "cx AS gmed_f",
        "cy AS gmed_m",
    )


# ---------------------------------------------------------------------------
# q229 — bitmap-index audience intersection (bit-packed set algebra)
# ---------------------------------------------------------------------------
# The physical-design twin of q131's join-based audience overlap: pack
# each behavioral segment's membership into 63-bit words (word = id div
# 63, bit = id mod 63 — bit 63 avoided so masks stay positive on both
# engines), then set intersections become word-aligned AND + popcount.
# This is the roaring-bitmap idea in pure relational form: segment
# comparisons cost |universe|/63 words instead of |members| rows, the
# word join is an equi-join, and masks OR together associatively (so
# bitmap construction is map-side combinable — the property that makes
# bitmap indexes THE segment-algebra structure at warehouse scale).
# Union counts come from |A|+|B|−|A∩B| rather than a word join, so words
# present in only one bitmap are never miscounted. All integer ops.
@register(
    "q229_bitmap_intersect",
    bench=True,
    tags=("bitmap", "segments", "set-algebra"),
    oracle="""
        WITH members AS (
          SELECT DISTINCT event_type AS seg, user_id FROM events
        ),
        words AS (
          SELECT seg, user_id // 63 AS w,
                 bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
                   AS mask
          FROM members GROUP BY 1, 2
        ),
        sizes AS (
          SELECT seg, CAST(SUM(bit_count(mask)) AS BIGINT) AS n
          FROM words GROUP BY 1
        ),
        pairs AS (
          SELECT a.seg AS seg_a, b.seg AS seg_b,
                 CAST(SUM(bit_count(a.mask & b.mask)) AS BIGINT) AS n_intersect
          FROM words a JOIN words b ON a.w = b.w AND a.seg < b.seg
          GROUP BY 1, 2
        )
        SELECT p.seg_a, p.seg_b, sa.n AS n_a, sb.n AS n_b, p.n_intersect,
               sa.n + sb.n - p.n_intersect AS n_union,
               CAST(p.n_intersect AS DOUBLE)
                 / (sa.n + sb.n - p.n_intersect) AS jaccard
        FROM pairs p
        JOIN sizes sa ON p.seg_a = sa.seg
        JOIN sizes sb ON p.seg_b = sb.seg
    """,
)
def q229_bitmap_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience intersection/Jaccard over bit-packed segment
    bitmaps — word-aligned AND + popcount instead of row joins (see block
    comment for why this is the segment algebra that survives scale)."""
    ev = load_table(spark, sf_dir, "events")
    members = ev.select(
        F.col("event_type").alias("seg"), "user_id"
    ).distinct()
    # lazy cut: sizes + both intersection sides reuse the bitmap relation
    # (audit: 4 event scans/plan uncut)
    words = members.groupBy(
        "seg", F.expr("user_id div 63").alias("w")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))"
        ).alias("mask")
    ).localCheckpoint(eager=False)
    sizes = words.groupBy("seg").agg(
        F.expr("CAST(SUM(bit_count(mask)) AS BIGINT)").alias("n")
    )
    a, b = words.alias("a"), words.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.seg") < F.col("b.seg")),
        )
        .groupBy(
            F.col("a.seg").alias("seg_a"), F.col("b.seg").alias("seg_b")
        )
        .agg(
            F.expr("CAST(SUM(bit_count(a.mask & b.mask)) AS BIGINT)").alias(
                "n_intersect"
            )
        )
    )
    sa = sizes.selectExpr("seg AS seg_a", "n AS n_a")
    sb = sizes.selectExpr("seg AS seg_b", "n AS n_b")
    return (
        pairs.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .selectExpr(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_intersect",
            "n_a + n_b - n_intersect AS n_union",
            "CAST(n_intersect AS DOUBLE) / (n_a + n_b - n_intersect)"
            " AS jaccard",
        )
    )


# ---------------------------------------------------------------------------
# q231 — difference-in-differences with a pooled-variance z statistic
# ---------------------------------------------------------------------------
# The workhorse causal estimator when a change ships to part of the user
# base: compare each arm's before→after movement, so shared time trends
# cancel. Arms are the md5 hash assignment (q120's reproducibility
# property); periods split the stream at its midpoint; the outcome is
# per-user purchase spend in the period, ZERO-FILLED over the full
# user × period universe (dropping silent users biases every cell mean —
# the classic DiD mistake).
#
# Shape: one fact pass to per-(user, period) integer outcomes, one
# distinct-users relation crossed with the 2-row period grid for the
# zero-fill, one hash agg to 4 cell moment rows, one closing expression
# (q216 discipline). All moments exact BIGINT.
@register(
    "q231_diff_in_diff",
    tags=("experiment", "causal", "stats"),
    oracle=f"""
        WITH bounds AS (
          SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM events
        ),
        outcomes AS (
          SELECT user_id,
                 CASE WHEN epoch_us(e.ts) < (b.t0 + b.t1) // 2
                      THEN 0 ELSE 1 END AS period,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(ROUND(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS y
          FROM events e CROSS JOIN bounds b
          GROUP BY 1, 2
        ),
        universe AS (
          SELECT u.user_id, {sql_hash_bucket('u.user_id', 2)} AS arm, p.period
          FROM (SELECT DISTINCT user_id FROM events) u
          CROSS JOIN (SELECT unnest(range(0, 2)) AS period) p
        ),
        filled AS (
          SELECT un.arm, un.period, COALESCE(o.y, 0) AS y
          FROM universe un
          LEFT JOIN outcomes o
            ON un.user_id = o.user_id AND un.period = o.period
        ),
        cells AS (
          SELECT arm, period,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS s,
                 CAST(SUM(y * y) AS BIGINT) AS ss
          FROM filled GROUP BY arm, period
        ),
        wide AS (
          SELECT
            MIN(CASE WHEN arm = 1 AND period = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
            MIN(CASE WHEN arm = 1 AND period = 1 THEN CAST(s AS DOUBLE) / n END) AS t_post,
            MIN(CASE WHEN arm = 0 AND period = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre,
            MIN(CASE WHEN arm = 0 AND period = 1 THEN CAST(s AS DOUBLE) / n END) AS c_post,
            CAST(SUM(CASE WHEN arm = 1 AND period = 0 THEN n END) AS BIGINT) AS n_t,
            CAST(SUM(CASE WHEN arm = 0 AND period = 0 THEN n END) AS BIGINT) AS n_c,
            CAST(SUM(CAST(ROUND(1000000.0 *
                  (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                  / (CAST(n AS DOUBLE) * (n - 1) * n)) AS BIGINT))
                 AS DOUBLE) / 1000000.0 AS var_sum
          FROM cells
        )
        SELECT n_t, n_c,
               t_pre / 100.0 AS t_pre, t_post / 100.0 AS t_post,
               c_pre / 100.0 AS c_pre, c_post / 100.0 AS c_post,
               ((t_post - t_pre) - (c_post - c_pre)) / 100.0 AS did_estimate,
               ((t_post - t_pre) - (c_post - c_pre)) / sqrt(var_sum) AS z_stat
        FROM wide
    """,
)
def q231_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on per-user purchase spend across the
    stream midpoint, hash-assigned arms, zero-filled user x period
    universe, pooled-variance z (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    outcomes = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            F.when(
                F.unix_micros("ts") < F.expr("(t0 + t1) div 2"), 0
            )
            .otherwise(1)
            .alias("period"),  # integer div, matching the oracle's `//`
        )
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("y")
        )
    )
    universe = (
        ev.select("user_id")
        .distinct()
        .select("user_id", hash_bucket("user_id", 2).alias("arm"))
        .crossJoin(
            F.broadcast(spark.range(2).select(F.col("id").alias("period")))
        )
    )
    filled = universe.join(outcomes, ["user_id", "period"], "left").select(
        "arm", "period", F.coalesce("y", F.lit(0)).alias("y")
    )
    cells = filled.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
    )
    wide = cells.agg(
        F.min(
            F.when((F.col("arm") == 1) & (F.col("period") == 0),
                   F.col("s").cast("double") / F.col("n"))
        ).alias("t_pre_r"),
        F.min(
            F.when((F.col("arm") == 1) & (F.col("period") == 1),
                   F.col("s").cast("double") / F.col("n"))
        ).alias("t_post_r"),
        F.min(
            F.when((F.col("arm") == 0) & (F.col("period") == 0),
                   F.col("s").cast("double") / F.col("n"))
        ).alias("c_pre_r"),
        F.min(
            F.when((F.col("arm") == 0) & (F.col("period") == 1),
                   F.col("s").cast("double") / F.col("n"))
        ).alias("c_post_r"),
        F.sum(
            F.when((F.col("arm") == 1) & (F.col("period") == 0), F.col("n"))
        ).cast("bigint").alias("n_t"),
        F.sum(
            F.when((F.col("arm") == 0) & (F.col("period") == 0), F.col("n"))
        ).cast("bigint").alias("n_c"),
        # 4-term double sum quantized to micro-units (ROUND half-away on
        # both engines) so accumulation order cannot move the last ulp
        (
            F.sum(
                F.round(
                    1000000.0
                    * (
                        F.col("n").cast("double") * F.col("ss")
                        - F.col("s").cast("double") * F.col("s")
                    )
                    / (F.col("n").cast("double") * (F.col("n") - 1) * F.col("n"))
                ).cast("bigint")
            ).cast("double")
            / 1000000.0
        ).alias("var_sum"),
    )
    return wide.selectExpr(
        "n_t",
        "n_c",
        "t_pre_r / 100.0 AS t_pre",
        "t_post_r / 100.0 AS t_post",
        "c_pre_r / 100.0 AS c_pre",
        "c_post_r / 100.0 AS c_post",
        "((t_post_r - t_pre_r) - (c_post_r - c_pre_r)) / 100.0"
        " AS did_estimate",
        "((t_post_r - t_pre_r) - (c_post_r - c_pre_r)) / sqrt(var_sum)"
        " AS z_stat",
    )


# ---------------------------------------------------------------------------
# q232 — stratified ATT: observational effect with confounder adjustment
# ---------------------------------------------------------------------------
# The observational counterpart of q231's DiD: "BUILDING-segment" customers
# are the treated group, average yearly spend the outcome, and nation the
# confounder — so the effect is estimated WITHIN nation strata and
# averaged with treated-share weights (exact stratification, the
# degenerate-but-assumption-free form of propensity adjustment):
#     ATT = Σ_s (n_Ts / n_T) · (ȳ_Ts − ȳ_Cs)
# Strata where either arm is empty are excluded (no counterfactual), and
# the weight renormalizes over contributing strata — both sides compute
# the same support set by construction.
#
# Shape: one keyed fact aggregate to per-customer spend, broadcast-join
# the dimension labels, one hash agg to ~25 stratum moment rows, one
# weighted reduce (micro-quantized — the q231 lesson). Exact integer
# moments throughout.
_ATT_TREAT_SEG = "BUILDING"


@register(
    "q232_stratified_att",
    tags=("causal", "stratification", "stats"),
    oracle=f"""
        WITH spend AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY o_custkey
        ),
        labeled AS (
          SELECT c.c_nationkey AS stratum,
                 CASE WHEN c.c_mktsegment = '{_ATT_TREAT_SEG}'
                      THEN 1 ELSE 0 END AS t,
                 COALESCE(s.y, 0) AS y
          FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
        ),
        strata AS (
          SELECT stratum,
                 CAST(SUM(t) AS BIGINT) AS n_t,
                 CAST(COUNT(*) - SUM(t) AS BIGINT) AS n_c,
                 CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s_t,
                 CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s_c
          FROM labeled GROUP BY stratum
        ),
        usable AS (
          SELECT * FROM strata WHERE n_t > 0 AND n_c > 0
        )
        SELECT CAST(SUM(n_t) AS BIGINT) AS n_treated,
               CAST(SUM(n_c) AS BIGINT) AS n_control,
               CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(CAST(ROUND(1000000.0 * n_t *
                      (CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c))
                    AS BIGINT)) AS DOUBLE)
                 / (1000000.0 * 100.0 * SUM(n_t)) AS att_dollars
        FROM usable
    """,
)
def q232_stratified_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect on the treated for the BUILDING segment's
    spend, exactly stratified by nation (see block comment — broadcast
    labels, ~25 stratum moment rows, micro-quantized weighted reduce)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    labeled = c.join(spend, c.c_custkey == spend.o_custkey, "left").select(
        F.col("c_nationkey").alias("stratum"),
        F.when(F.col("c_mktsegment") == _ATT_TREAT_SEG, 1)
        .otherwise(0)
        .alias("t"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    strata = labeled.groupBy("stratum").agg(
        F.sum("t").cast("bigint").alias("n_t"),
        (F.count(F.lit(1)) - F.sum("t")).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s_c"),
    )
    usable = strata.where((F.col("n_t") > 0) & (F.col("n_c") > 0))
    return usable.agg(
        F.sum("n_t").cast("bigint").alias("n_treated"),
        F.sum("n_c").cast("bigint").alias("n_control"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        (
            F.sum(
                F.round(
                    1000000.0
                    * F.col("n_t")
                    * (
                        F.col("s_t").cast("double") / F.col("n_t")
                        - F.col("s_c").cast("double") / F.col("n_c")
                    )
                ).cast("bigint")
            ).cast("double")
            / (1000000.0 * 100.0 * F.sum("n_t"))
        ).alias("att_dollars"),
    )


# ---------------------------------------------------------------------------
# q236 — k-core peeling of the co-purchase backbone (3 unrolled rounds)
# ---------------------------------------------------------------------------
# The degeneracy view of the backbone graph: repeatedly peel nodes of
# degree < k; what survives is the k-core, the cohesive kernel community
# detection and influence seeding start from. Exactly-one peel round is a
# degree filter; the fixpoint needs iteration — three unrolled rounds here
# (the declarative-ladder idiom of q220/q225/q228: each round is a degree
# aggregate + two semi-joins on the vocabulary-sized edge list, and the
# unroll depth bounds plan size; the checkpoint-loop twin for unbounded
# peeling is q45's CC discipline). Emits surviving nodes with their final
# degree and whether the peel had already converged (degree-k-stable) by
# round 3 — all integer.
_KCORE_K = 2


@register(
    "q236_kcore_peel",
    tags=("graph", "kcore", "join"),
    oracle=f"""
        WITH items AS (
          SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        pairs AS (
          SELECT a.brand AS ba, b.brand AS bb, CAST(COUNT(*) AS BIGINT) AS n
          FROM items a JOIN items b
            ON a.okey = b.okey AND a.brand < b.brand
          GROUP BY 1, 2
        ),
        med AS (SELECT quantile_cont(n, 0.5) AS m FROM pairs),
        e0 AS (SELECT ba, bb FROM pairs, med WHERE n > m),
        d1 AS (
          SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT ba AS x FROM e0 UNION ALL SELECT bb FROM e0
          ) GROUP BY x
        ),
        k1 AS (SELECT x FROM d1 WHERE d >= {_KCORE_K}),
        e1 AS (
          SELECT ba, bb FROM e0
          WHERE ba IN (SELECT x FROM k1) AND bb IN (SELECT x FROM k1)
        ),
        d2 AS (
          SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT ba AS x FROM e1 UNION ALL SELECT bb FROM e1
          ) GROUP BY x
        ),
        k2 AS (SELECT x FROM d2 WHERE d >= {_KCORE_K}),
        e2 AS (
          SELECT ba, bb FROM e1
          WHERE ba IN (SELECT x FROM k2) AND bb IN (SELECT x FROM k2)
        ),
        d3 AS (
          SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT ba AS x FROM e2 UNION ALL SELECT bb FROM e2
          ) GROUP BY x
        )
        SELECT x AS brand, d AS degree,
               CASE WHEN d >= {_KCORE_K} THEN 1 ELSE 0 END AS stable
        FROM d3
    """,
)
def q236_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peel rounds toward the 2-core of the brand backbone.

    The heavy work — lineitem⋈part, the per-order brand self-join, the
    median support threshold — is fully distributed. The backbone graph
    itself lives on the ``p_brand`` VOCABULARY (≤25 nodes / ≤300 edges at
    every scale factor), so the two peel rounds run driver-side on the
    collected edge list — the q293 allowance pattern, guarded by the same
    vocabulary ceiling + LIMIT sentinel. r16: the previous Spark-side
    unrolled peel (eager checkpoint + per-round broadcast semi-joins) paid
    ~10 driver jobs of pure fixed cost on a ≤300-row relation (profile:
    15 jobs / 31 stages, 1.4s outside any stage); the peel arithmetic is
    exact integer degree counting, so the driver replay is bit-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    items = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    med = pairs.agg(F.expr("percentile(n, 0.5)").alias("m"))
    # Self-enforcing collect bound (the q293 guard): assert the vocabulary
    # allowance before pulling the edge list to the driver.
    n_vocab = pt.select("p_brand").distinct().count()
    _VOCAB_CEILING = 1000
    if n_vocab > _VOCAB_CEILING:
        raise RuntimeError(
            f"q236: brand vocabulary ({n_vocab}) exceeds the absolute "
            f"ceiling ({_VOCAB_CEILING}) — the graph column is no longer "
            "vocabulary-sized; restore the distributed peel loop instead"
        )
    bound = n_vocab * n_vocab + 1
    rows = (
        pairs.crossJoin(F.broadcast(med))
        .where(F.col("n") > F.col("m"))
        .select("ba", "bb")
        .limit(bound)
        .collect()
    )
    if len(rows) >= bound:
        raise RuntimeError(
            f"q236: edge collect exceeded the vocabulary bound "
            f"(≥{bound} rows for a {n_vocab}-value brand vocabulary) — "
            "the co-occurrence graph is no longer vocabulary-sized; "
            "restore the distributed peel loop instead"
        )
    edges = [(r.ba, r.bb) for r in rows]

    def degree_counts(e: list) -> dict:
        d: dict = {}
        for x, y in e:
            d[x] = d.get(x, 0) + 1
            d[y] = d.get(y, 0) + 1
        return d

    for _ in range(2):  # two peels, then report round-3 degrees
        deg = degree_counts(edges)
        keep = {x for x, d in deg.items() if d >= _KCORE_K}
        edges = [(x, y) for x, y in edges if x in keep and y in keep]
    out = [
        (x, d, 1 if d >= _KCORE_K else 0)
        for x, d in degree_counts(edges).items()
    ]
    return literal_df(spark, out, "brand string, degree bigint, stable int")


# ---------------------------------------------------------------------------
# q237 — rank-biased overlap between two supplier rankings
# ---------------------------------------------------------------------------
# RBO (Webber et al.) — the top-weighted similarity between two rankings,
# the right metric when two scoring functions (here: account balance vs
# fulfilled volume) must be compared as RANKINGS, not value lists (q218
# judges one ranking against relevance; RBO compares two rankings to each
# other). Fixed-depth form:
#     RBO@D = (1-p) * sum_{d=1..D} p^(d-1) * |A_:d intersect B_:d| / d
# with p = 0.9, D = 20. The geometric weights p^(d-1) are literal
# constants (libm-free — the q218 discipline); prefix-overlap counts X_d
# are exact integers (pairs with max(rank_a, rank_b) <= d); the 20-term
# weighted sum is micro-quantized.
#
# Shape: two TakeOrderedAndProject top-20s, an equi-join on supplier, a
# 20-row depth explode against the <=20-row pair relation, one closing
# reduce. Constant-size after the fact aggregates at any scale.
_RBO_D = 20
_RBO_W = (
    "CASE d WHEN 1 THEN CAST(1.0 AS DOUBLE) WHEN 2 THEN CAST(0.9 AS DOUBLE) WHEN 3 THEN CAST(0.81 AS DOUBLE) WHEN 4 THEN CAST(0.729 AS DOUBLE) WHEN 5 THEN CAST(0.6561 AS DOUBLE) WHEN 6 THEN CAST(0.59049 AS DOUBLE) WHEN 7 THEN CAST(0.531441 AS DOUBLE) WHEN 8 THEN CAST(0.4782969 AS DOUBLE) WHEN 9 THEN CAST(0.43046721 AS DOUBLE) WHEN 10 THEN CAST(0.387420489 AS DOUBLE) WHEN 11 THEN CAST(0.3486784401 AS DOUBLE) WHEN 12 THEN CAST(0.31381059609 AS DOUBLE) WHEN 13 THEN CAST(0.282429536481 AS DOUBLE) WHEN 14 THEN CAST(0.2541865828329 AS DOUBLE) WHEN 15 THEN CAST(0.22876792454961 AS DOUBLE) WHEN 16 THEN CAST(0.205891132094649 AS DOUBLE) WHEN 17 THEN CAST(0.185302018885184 AS DOUBLE) WHEN 18 THEN CAST(0.166771816996666 AS DOUBLE) WHEN 19 THEN CAST(0.150094635296999 AS DOUBLE) WHEN 20 THEN CAST(0.135085171767299 AS DOUBLE) END"
)


@register(
    "q237_rank_biased_overlap",
    tags=("ranking", "evaluation", "metric"),
    oracle=f"""
        WITH vol AS (
          SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS v
          FROM lineitem GROUP BY l_suppkey
        ),
        a AS (
          SELECT s_suppkey, ROW_NUMBER() OVER
                   (ORDER BY s_acctbal DESC, s_suppkey) AS ra
          FROM supplier ORDER BY s_acctbal DESC, s_suppkey LIMIT {_RBO_D}
        ),
        b AS (
          SELECT s.s_suppkey, ROW_NUMBER() OVER
                   (ORDER BY COALESCE(v.v, 0) DESC, s.s_suppkey) AS rb
          FROM supplier s LEFT JOIN vol v ON s.s_suppkey = v.l_suppkey
          ORDER BY COALESCE(v.v, 0) DESC, s.s_suppkey LIMIT {_RBO_D}
        ),
        both_ranked AS (
          SELECT a.ra, b.rb FROM a JOIN b ON a.s_suppkey = b.s_suppkey
        ),
        depths AS (SELECT unnest(range(1, {_RBO_D} + 1)) AS d),
        xd AS (
          SELECT depths.d,
                 CAST(COUNT(CASE WHEN br.ra <= depths.d
                                  AND br.rb <= depths.d THEN 1 END)
                      AS BIGINT) AS x
          FROM depths LEFT JOIN both_ranked br ON TRUE
          GROUP BY depths.d
        )
        SELECT CAST({_RBO_D} AS BIGINT) AS depth,
               CAST(MAX(CASE WHEN d = {_RBO_D} THEN x END) AS BIGINT)
                 AS overlap_at_depth,
               0.1 * CAST(SUM(CAST(ROUND(1000000000000.0 * ({_RBO_W})
                     * x / d) AS BIGINT)) AS DOUBLE) / 1000000000000.0
                 AS rbo
        FROM xd
    """,
)
def q237_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO@20 (p=0.9) between the balance-ranked and volume-ranked supplier
    lists — literal geometric weights, exact prefix-overlap counts,
    micro-quantized 20-term sum (see block comment)."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    vol = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    wa = W.orderBy(F.col("s_acctbal").desc(), "s_suppkey")
    a = (
        sup.select("s_suppkey", F.row_number().over(wa).alias("ra"))
        .where(F.col("ra") <= _RBO_D)
    )
    svol = sup.join(vol, sup.s_suppkey == vol.l_suppkey, "left").select(
        "s_suppkey", F.coalesce("v", F.lit(0)).alias("v")
    )
    wb = W.orderBy(F.col("v").desc(), "s_suppkey")
    b = (
        svol.select("s_suppkey", F.row_number().over(wb).alias("rb"))
        .where(F.col("rb") <= _RBO_D)
    )
    both_ranked = a.join(b, "s_suppkey").select("ra", "rb")
    depths = spark.range(1, _RBO_D + 1).select(F.col("id").alias("d"))
    xd = (
        F.broadcast(depths)
        .join(both_ranked, F.lit(True), "left")
        .groupBy("d")
        .agg(
            F.count(
                F.when((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), 1)
            ).cast("bigint").alias("x")
        )
    )
    return xd.agg(
        F.lit(_RBO_D).cast("bigint").alias("depth"),
        F.max(F.when(F.col("d") == _RBO_D, F.col("x"))).cast("bigint")
        .alias("overlap_at_depth"),
        F.expr(
            f"0.1 * CAST(SUM(CAST(ROUND(1000000000000.0 * ({_RBO_W})"
            " * x / d) AS BIGINT)) AS DOUBLE) / 1000000000000.0"
        ).alias("rbo"),
    )


# ---------------------------------------------------------------------------
# q238 — Beta-binomial posterior for per-segment conversion rates
# ---------------------------------------------------------------------------
# Bayesian shrinkage for rate readouts: with a Beta(1,1) prior the
# posterior over each segment's heavy-buyer rate is Beta(1+k, 1+n−k) —
# closed-form mean and sd, all rational except the final sqrt, so the
# whole posterior is exact-engine arithmetic. Small segments shrink
# toward 1/2, large ones toward k/n — the principled fix for ranking
# segments by raw rates (q120's z-test answers "is B better than A";
# this answers "what IS each rate, honestly, given its sample size").
# One keyed fact aggregate to per-customer order counts, one hash agg to
# segment (n, k) integers, one closing expression row per segment.
_BB_HEAVY = 8  # heavy buyer: >= this many orders (median-ish split)


@register(
    "q238_beta_binomial",
    tags=("bayesian", "stats", "segmentation"),
    oracle=f"""
        WITH per_cust AS (
          SELECT c.c_custkey, c.c_mktsegment AS segment,
                 CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey, c.c_mktsegment
        ),
        seg AS (
          SELECT segment,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN n_orders >= {_BB_HEAVY} THEN 1 ELSE 0 END)
                      AS BIGINT) AS k
          FROM per_cust GROUP BY segment
        )
        SELECT segment, n, k,
               CAST(k AS DOUBLE) / n AS raw_rate,
               (1.0 + CAST(k AS DOUBLE)) / (2.0 + CAST(n AS DOUBLE))
                 AS post_mean,
               sqrt(((1.0 + CAST(k AS DOUBLE))
                     * (1.0 + CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                    / (((2.0 + CAST(n AS DOUBLE)) * (2.0 + CAST(n AS DOUBLE)))
                       * (3.0 + CAST(n AS DOUBLE)))) AS post_sd
        FROM seg
    """,
)
def q238_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta(1,1)-posterior mean and sd of each market segment's heavy-buyer
    rate — closed-form Bayesian shrinkage from exact (n, k) integers (see
    block comment)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    seg = per_cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("n_orders") >= _BB_HEAVY, 1).otherwise(0)
        ).cast("bigint").alias("k"),
    )
    return seg.selectExpr(
        "segment",
        "n",
        "k",
        # bare decimal literals + BIGINT parse as DECIMAL in Spark with
        # scale-truncating products (the q218 lesson) — cast columns to
        # DOUBLE so both engines run the same IEEE tree
        "CAST(k AS DOUBLE) / n AS raw_rate",
        "(1.0 + CAST(k AS DOUBLE)) / (2.0 + CAST(n AS DOUBLE)) AS post_mean",
        "sqrt(((1.0 + CAST(k AS DOUBLE))"
        " * (1.0 + CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))"
        " / (((2.0 + CAST(n AS DOUBLE)) * (2.0 + CAST(n AS DOUBLE)))"
        "    * (3.0 + CAST(n AS DOUBLE)))) AS post_sd",
    )


# ---------------------------------------------------------------------------
# q241 — quantile treatment effects (distributional A/B readout)
# ---------------------------------------------------------------------------
# q120 tests the MEAN; experiments that move the tails (pricing, limits,
# ranking changes) need the quantile view: QTE(τ) = Q_treat(τ) − Q_ctrl(τ)
# at τ ∈ {0.1, 0.5, 0.9}. Arms are the md5 assignment; the outcome is
# per-user purchase spend in exact integer cents, so the exact percentile
# interpolates identical integers on both engines (q24/q227 discipline —
# approx_percentile is the 100 TB swap). One keyed aggregate, 2×3 exact
# percentiles, a 3-row output.
_QTE_TAUS = (0.1, 0.5, 0.9)


@register(
    "q241_quantile_treatment_effect",
    tags=("experiment", "quantile", "stats"),
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 {sql_hash_bucket('user_id', 2)} AS arm,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(ROUND(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY user_id
        ),
        wide AS (
          SELECT
            quantile_cont(CASE WHEN arm = 1 THEN y END, 0.1) AS t0,
            quantile_cont(CASE WHEN arm = 0 THEN y END, 0.1) AS c0,
            quantile_cont(CASE WHEN arm = 1 THEN y END, 0.5) AS t1,
            quantile_cont(CASE WHEN arm = 0 THEN y END, 0.5) AS c1,
            quantile_cont(CASE WHEN arm = 1 THEN y END, 0.9) AS t2,
            quantile_cont(CASE WHEN arm = 0 THEN y END, 0.9) AS c2
          FROM u
        ),
        q AS (
          SELECT CAST(0.1 AS DOUBLE) AS tau, t0 AS q_treat_c, c0 AS q_ctrl_c FROM wide
          UNION ALL
          SELECT CAST(0.5 AS DOUBLE), t1, c1 FROM wide
          UNION ALL
          SELECT CAST(0.9 AS DOUBLE), t2, c2 FROM wide
        )
        SELECT tau, q_treat_c / 100.0 AS q_treat, q_ctrl_c / 100.0 AS q_ctrl,
               (q_treat_c - q_ctrl_c) / 100.0 AS qte
        FROM q
    """,
)
def q241_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QTE at τ=0.1/0.5/0.9 for per-user purchase spend between hash arms
    — exact integer-cent percentiles per arm (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("y")
    ).select(hash_bucket("user_id", 2).alias("arm"), "y").localCheckpoint(
        eager=False
    )  # user-count-sized; the raw-row ranking below scans it twice
    # ONE grouped blocked-rank selection computes all three taus for both
    # arms (bit-identical to `percentile`); the builtin's CASE-filtered
    # buffers each held an arm's entire per-user spend distribution —
    # user-count-sized at 100 TB with two groups. Raw-row ranking
    # (r10): the probe reproduces the r9 call — per-user spend is ~99%
    # distinct per arm, so the distinct-count pre-reduce re-shuffled
    # user-count-sized data for no reduction; the checkpoint above caps
    # the double scan at one materialization (1.08s vs 1.16s at sf0.1)
    qa = distributed_grouped_quantiles(
        u, ["arm"], "y", [0.1, 0.5, 0.9], probe_key=f"q241:{sf_dir}",
    ).localCheckpoint(eager=False)  # 2-row relation, read once per arm
    wide = (
        qa.where(F.col("arm") == 1)
        .select(F.col("c").alias("ct"))
        .join(F.broadcast(qa.where(F.col("arm") == 0).select(F.col("c").alias("cc"))))
    )
    q = wide.selectExpr(
        "stack(3, CAST(0.1 AS DOUBLE), ct[0], cc[0],"
        " CAST(0.5 AS DOUBLE), ct[1], cc[1],"
        " CAST(0.9 AS DOUBLE), ct[2], cc[2]) AS (tau, q_treat_c, q_ctrl_c)"
    )
    return q.selectExpr(
        "tau",
        "q_treat_c / 100.0 AS q_treat",
        "q_ctrl_c / 100.0 AS q_ctrl",
        "(q_treat_c - q_ctrl_c) / 100.0 AS qte",
    )


# ---------------------------------------------------------------------------
# q246 — isotonic calibration (PAVA) of late-shipment risk by price band
# ---------------------------------------------------------------------------
# Monotone calibration: the raw late-shipment rate per price band is
# noisy and can invert; the pool-adjacent-violators algorithm (PAVA)
# produces the best monotone fit — the standard score-calibration step
# (Platt's alternative) before risk thresholds go to production. PAVA's
# pooling is inherently sequential, so it is the documented Python
# boundary: the DISTRIBUTED part reduces facts to (group, band, n, k)
# integers; applyInPandas then runs PAVA per group over ≤10 band rows —
# the q175-class pattern (sequential semantics on pre-aggregated
# group-local rows, never on facts).
_ISO_BANDS = 10
_LATE_DAYS = 90


def _pava_batch(pdf):
    """PAVA over one priority group's bands (sorted by band): pool adjacent
    violators until nondecreasing; fitted rate = pooled k/n."""
    pdf = pdf.sort_values("band").reset_index(drop=True)
    blocks = [
        [int(r.band), int(r.n), int(r.k)] for r in pdf.itertuples()
    ]  # [first_band, n, k]
    merged = []
    for b in blocks:
        merged.append(b)
        while len(merged) >= 2 and (
            merged[-2][2] * merged[-1][1] > merged[-1][2] * merged[-2][1]
        ):  # rate[-2] > rate[-1] in exact cross-multiplied form
            last = merged.pop()
            merged[-1][1] += last[1]
            merged[-1][2] += last[2]
    fitted = {}
    for i, (first, n, k) in enumerate(merged):
        until = merged[i + 1][0] if i + 1 < len(merged) else _ISO_BANDS
        for band in range(first, until):
            fitted[band] = k / n
    out = pdf.copy()
    out["iso_rate"] = [fitted[int(b)] for b in pdf["band"]]
    return out


@register(
    "q246_isotonic_calibration",
    tags=("ml", "calibration", "udf"),
    # Hash-graded since r10 (rows-only r4-r9): PAVA's sequential pooling
    # has a non-iterative characterization — the isotonic minimax
    # theorem, fitted(i) = max_{l<=i} min_{r>=i} pooledRate(l..r) with
    # pooledRate = Σk/Σn over the band range (the n-weighted fit PAVA
    # computes) — so the oracle replays it as prefix sums + a bounded
    # (l, i, r) enumeration (≤10 bands per priority). The selected value
    # is the same integer-ratio-as-double the Spark PAVA emits, so
    # equality is exact; ties between equal-rate blocks are fitted-value
    # invariant. The sklearn-free python PAVA replay pin stays in
    # tests/test_round4d_ops.py.
    oracle=f"""
        WITH late AS (
          SELECT o.o_orderkey, o.o_orderpriority AS priority,
                 CAST(ROUND(o.o_totalprice) AS BIGINT) AS d,
                 MAX(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                          CAST(l.l_shipdate AS DATE))
                               > {_LATE_DAYS}
                          THEN 1 ELSE 0 END) AS late
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY o.o_orderkey, o.o_orderpriority, o.o_totalprice
        ),
        bounds AS (SELECT MIN(d) AS lo, MAX(d) + 1 AS hi FROM late),
        bands AS (
          SELECT priority,
                 CAST(({_ISO_BANDS} * (lt.d - b.lo)) // (b.hi - b.lo)
                      AS BIGINT) AS band,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(late) AS BIGINT) AS k
          FROM late lt CROSS JOIN bounds b
          GROUP BY 1, 2
        ),
        idx AS (
          SELECT priority, band, n, k,
                 SUM(n) OVER w AS cn, SUM(k) OVER w AS ck,
                 ROW_NUMBER() OVER w AS i
          FROM bands
          WINDOW w AS (PARTITION BY priority ORDER BY band
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        inner_min AS (
          SELECT i.priority, i.i, l.i AS li,
                 MIN( CAST(r.ck - (l.ck - l.k) AS DOUBLE)
                      / (r.cn - (l.cn - l.n)) ) AS mn
          FROM idx i
          JOIN idx l ON l.priority = i.priority AND l.i <= i.i
          JOIN idx r ON r.priority = i.priority AND r.i >= i.i
          GROUP BY 1, 2, 3
        )
        SELECT b.priority, b.band, b.n, b.k,
               CAST(b.k AS DOUBLE) / b.n AS raw_rate,
               f.iso_rate
        FROM bands b
        JOIN (
          SELECT im.priority, im.i, MAX(im.mn) AS iso_rate
          FROM inner_min im GROUP BY 1, 2
        ) f ON f.priority = b.priority
        JOIN idx ix ON ix.priority = b.priority AND ix.band = b.band
                   AND ix.i = f.i
    """,
)
def q246_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone (PAVA) calibration of P(late shipment) against order price
    band, per priority — distributed band aggregation + per-group
    applyInPandas pooling (see block comment)."""
    o = load_table(spark, sf_dir, "orders")
    # spread_key: ×1.49 at local[4], ×1.40 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    late = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice"),
        )
        .agg(
            F.max(
                F.when(
                    F.datediff(
                        F.col("l_shipdate").cast("date"),
                        F.col("o_orderdate").cast("date"),
                    )
                    > _LATE_DAYS,
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    bounds = late.agg(
        F.min(F.round("o_totalprice").cast("bigint")).alias("lo"),
        (F.max(F.round("o_totalprice").cast("bigint")) + 1).alias("hi"),
    )
    bands = (
        late.crossJoin(F.broadcast(bounds))
        .selectExpr(
            "priority",
            f"CAST(({_ISO_BANDS} * (CAST(ROUND(o_totalprice) AS BIGINT) - lo))"
            " div (hi - lo) AS BIGINT) AS band",
            "late",
        )
        .groupBy("priority", "band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("late").cast("bigint").alias("k"),
        )
    )
    schema = T.StructType(
        [
            T.StructField("priority", T.StringType()),
            T.StructField("band", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("k", T.LongType()),
            T.StructField("iso_rate", T.DoubleType()),
        ]
    )
    fitted = bands.groupBy("priority").applyInPandas(
        lambda pdf: _pava_batch(pdf), schema
    )
    return fitted.select(
        "priority",
        "band",
        "n",
        "k",
        (F.col("k").cast("double") / F.col("n")).alias("raw_rate"),
        "iso_rate",
    )


# ---------------------------------------------------------------------------
# q250 — link prediction on the co-purchase backbone (neighbor Jaccard)
# ---------------------------------------------------------------------------
# The classic recommender/graph-completion primitive: score NON-edges by
# how much neighborhood they share. Candidates are generated by the wedge
# join (a–b, b–c ⇒ candidate a–c with a < c) — only pairs at distance 2
# are ever scored, never the quadratic non-edge set; existing edges are
# anti-joined out; the score is neighbor Jaccard |N∩|/|N∪| from exact
# integer counts (log-free — Adamic-Adar's 1/log(deg) weights are not
# cross-engine reproducible; common-neighbor Jaccard carries the same
# ordering on this graph family). Top-20 by (jaccard, pair) is a
# TakeOrderedAndProject.
_LP_TOPK = 20


@register(
    "q250_link_prediction",
    tags=("graph", "linkpred", "join"),
    oracle=f"""
        WITH items AS (
          SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        pairs AS (
          SELECT a.brand AS ba, b.brand AS bb, CAST(COUNT(*) AS BIGINT) AS n
          FROM items a JOIN items b
            ON a.okey = b.okey AND a.brand < b.brand
          GROUP BY 1, 2
        ),
        med AS (SELECT quantile_cont(n, 0.5) AS m FROM pairs),
        edges AS (SELECT ba, bb FROM pairs, med WHERE n > m),
        directed AS (
          SELECT ba AS x, bb AS y FROM edges
          UNION ALL SELECT bb, ba FROM edges
        ),
        deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM directed GROUP BY x),
        wedges AS (
          SELECT e1.x AS a, e2.y AS c, CAST(COUNT(*) AS BIGINT) AS common
          FROM directed e1 JOIN directed e2
            ON e1.y = e2.x AND e1.x < e2.y
          GROUP BY 1, 2
        ),
        cand AS (
          SELECT w.a, w.c, w.common, da.d AS dega, dc.d AS degc
          FROM wedges w
          JOIN deg da ON w.a = da.x
          JOIN deg dc ON w.c = dc.x
          WHERE NOT EXISTS (
            SELECT 1 FROM edges e WHERE e.ba = w.a AND e.bb = w.c
          )
        )
        SELECT a AS brand_a, c AS brand_b, common, dega, degc,
               CAST(common AS DOUBLE) / (dega + degc - common) AS jaccard
        FROM cand
        ORDER BY jaccard DESC, a, c LIMIT {_LP_TOPK}
    """,
)
def q250_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links on the brand backbone by neighbor Jaccard —
    wedge-join candidates, existing edges anti-joined, exact integer
    neighborhood counts (see block comment)."""
    # spread_key: ×1.16 at local[4], ×1.35 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    pt = load_table(spark, sf_dir, "part")
    items = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    med = pairs.agg(F.expr("percentile(n, 0.5)").alias("m"))
    edges = (
        pairs.crossJoin(F.broadcast(med))
        .where(F.col("n") > F.col("m"))
        .select("ba", "bb")
        .localCheckpoint(eager=False)  # wedge join + anti-join + degrees
        # all re-read the backbone; materialize once, lazily — the final
        # action is the single barrier (r16, the q103 recipe)
    )
    directed = edges.selectExpr("ba AS x", "bb AS y").unionAll(
        edges.selectExpr("bb AS x", "ba AS y")
    )
    deg = directed.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    e1, e2 = directed.alias("e1"), directed.alias("e2")
    wedges = (
        e1.join(
            e2,
            (F.col("e1.y") == F.col("e2.x")) & (F.col("e1.x") < F.col("e2.y")),
        )
        .groupBy(F.col("e1.x").alias("a"), F.col("e2.y").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    cand = (
        wedges.join(
            edges.selectExpr("ba AS a", "bb AS c"), ["a", "c"], "anti"
        )
        .join(F.broadcast(deg.selectExpr("x AS a", "d AS dega")), "a")
        .join(F.broadcast(deg.selectExpr("x AS c", "d AS degc")), "c")
    )
    return (
        cand.selectExpr(
            "a AS brand_a",
            "c AS brand_b",
            "common",
            "dega",
            "degc",
            "CAST(common AS DOUBLE) / (dega + degc - common) AS jaccard",
        )
        .orderBy(F.col("jaccard").desc(), "brand_a", "brand_b")
        .limit(_LP_TOPK)
    )


# ---------------------------------------------------------------------------
# q252 — expected calibration error (the scalar the q210 diagram rolls to)
# ---------------------------------------------------------------------------
# ECE = Σ_b (n_b/n)·|acc_b − conf_b| and MCE = max_b |acc_b − conf_b| over
# the same integer-rank score buckets as q210's reliability diagram — the
# one-number calibration gate a model-deployment checklist actually
# thresholds on. Bucket moments are exact integers (Σrank, Σy); the
# per-bucket gap is a correctly-rounded expression; the weighted sum is
# micro-quantized (q231 discipline). One global rank window over the
# customer dimension (dimension-sized, documented) then a 10-row reduce.
@register(
    "q252_expected_calibration_error",
    tags=("ml-eval", "calibration", "stats"),
    oracle=f"""
        WITH yr AS (
          SELECT CAST(MAX(EXTRACT(year FROM o_orderdate)) - 1 AS BIGINT) AS y1
          FROM orders
        ),
        actives AS (
          SELECT DISTINCT o_custkey
          FROM orders, yr
          WHERE EXTRACT(year FROM o_orderdate) = yr.y1
        ),
        ranked AS (
          SELECT c_custkey,
                 ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS r,
                 COUNT(*) OVER () - 1 AS nm1,
                 CASE WHEN c_custkey IN (SELECT o_custkey FROM actives)
                      THEN 1 ELSE 0 END AS y
          FROM customer
        ),
        buckets AS (
          SELECT LEAST(r * {CAL_BUCKETS} // nm1, {CAL_BUCKETS - 1}) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS nb,
                 CAST(SUM(r) AS BIGINT) AS sr,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(MIN(nm1) AS BIGINT) AS nm1
          FROM ranked GROUP BY 1
        )
        SELECT CAST(SUM(nb) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(ROUND(1000000.0 * nb * abs(
                      CAST(sy AS DOUBLE) / nb
                      - CAST(sr AS DOUBLE) / (CAST(nm1 AS DOUBLE) * nb)))
                    AS BIGINT)) AS DOUBLE) / (1000000.0 * SUM(nb)) AS ece,
               MAX(abs(CAST(sy AS DOUBLE) / nb
                       - CAST(sr AS DOUBLE) / (CAST(nm1 AS DOUBLE) * nb)))
                 AS mce
        FROM buckets
    """,
)
def q252_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE and MCE of the account-balance propensity score against
    last-full-year activity, over q210's integer-rank buckets (see block
    comment)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    yr = o.agg((F.max(F.year("o_orderdate")) - 1).cast("bigint").alias("y1"))
    actives = (
        o.crossJoin(F.broadcast(yr))
        .where(F.year("o_orderdate") == F.col("y1"))
        .select("o_custkey")
        .distinct()
    )
    wrank = W.orderBy("c_acctbal", "c_custkey")
    ranked = (
        c.join(actives, c.c_custkey == actives.o_custkey, "left")
        .select(
            "c_custkey",
            "c_acctbal",
            F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
        )
        .select(
            (F.row_number().over(wrank) - 1).alias("r"),
            (F.count(F.lit(1)).over(W.partitionBy()) - 1).alias("nm1"),
            "y",
        )
    )
    buckets = ranked.groupBy(
        F.least(
            F.expr(f"r * {CAL_BUCKETS} div nm1"), F.lit(CAL_BUCKETS - 1)
        ).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("r").cast("bigint").alias("sr"),
        F.sum("y").cast("bigint").alias("sy"),
        F.min("nm1").cast("bigint").alias("nm1"),
    )
    return buckets.agg(
        F.sum("nb").cast("bigint").alias("n_customers"),
        (
            F.sum(
                F.expr(
                    "CAST(ROUND(1000000.0 * nb * abs("
                    "CAST(sy AS DOUBLE) / nb"
                    " - CAST(sr AS DOUBLE) / (CAST(nm1 AS DOUBLE) * nb)))"
                    " AS BIGINT)"
                )
            ).cast("double")
            / (1000000.0 * F.sum("nb"))
        ).alias("ece"),
        F.max(
            F.expr(
                "abs(CAST(sy AS DOUBLE) / nb"
                " - CAST(sr AS DOUBLE) / (CAST(nm1 AS DOUBLE) * nb))"
            )
        ).alias("mce"),
    )


# ---------------------------------------------------------------------------
# q253 — Spearman rank correlation (distribution-free comovement)
# ---------------------------------------------------------------------------
# q141/q117 correlate raw values — one whale customer can manufacture a
# Pearson correlation. Spearman is Pearson ON RANKS: monotone-invariant,
# outlier-proof, and exactly computable — ranks are integers (average
# ranks for ties are exact .5 rationals, carried as DOUBLED integer ranks
# so every moment stays a BIGINT). One keyed aggregate to per-customer
# (order count, spend cents), two rank windows over the customer
# dimension (dimension-sized, documented), one exact moment reduce.
@register(
    "q253_spearman_rank_corr",
    tags=("stats", "correlation", "rank"),
    oracle="""
        WITH per_cust AS (
          SELECT o_custkey,
                 CAST(COUNT(*) AS BIGINT) AS f,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS m
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT
            CAST(2 * RANK() OVER (ORDER BY f)
                 + COUNT(*) OVER (PARTITION BY f) - 1 AS BIGINT) AS rf2,
            CAST(2 * RANK() OVER (ORDER BY m)
                 + COUNT(*) OVER (PARTITION BY m) - 1 AS BIGINT) AS rm2
          FROM per_cust
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(rf2) AS BIGINT) AS sx,
                 CAST(SUM(rm2) AS BIGINT) AS sy,
                 CAST(SUM(rf2 * rf2) AS BIGINT) AS sxx,
                 CAST(SUM(rm2 * rm2) AS BIGINT) AS syy,
                 CAST(SUM(rf2 * rm2) AS BIGINT) AS sxy
          FROM ranked
        )
        SELECT n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                 AS spearman_rho
        FROM mom
    """,
)
def q253_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ between per-customer order count and spend — doubled
    integer average-ranks (ties exact), one moment reduce (see block
    comment)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("m"),
    )
    # average rank with ties, doubled to stay integer:
    # 2*avg_rank = 2*rank + (tie_count - 1)
    ranked = per_cust.select(
        (
            2 * F.rank().over(W.orderBy("f"))
            + F.count(F.lit(1)).over(W.partitionBy("f"))
            - 1
        ).cast("bigint").alias("rf2"),
        (
            2 * F.rank().over(W.orderBy("m"))
            + F.count(F.lit(1)).over(W.partitionBy("m"))
            - 1
        ).cast("bigint").alias("rm2"),
    )
    mom = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rf2").cast("bigint").alias("sx"),
        F.sum("rm2").cast("bigint").alias("sy"),
        F.sum(F.col("rf2") * F.col("rf2")).cast("bigint").alias("sxx"),
        F.sum(F.col("rm2") * F.col("rm2")).cast("bigint").alias("syy"),
        F.sum(F.col("rf2") * F.col("rm2")).cast("bigint").alias("sxy"),
    )
    return mom.selectExpr(
        "n",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        "    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
        " AS spearman_rho",
    )


# ---------------------------------------------------------------------------
# q254 — partial correlation (confound-adjusted comovement)
# ---------------------------------------------------------------------------
# "Do order count and spend still move together once account balance is
# held fixed?" — the partial correlation
#     ρ_xy·z = (ρ_xy − ρ_xz·ρ_yz) / (sqrt(1−ρ_xz²)·sqrt(1−ρ_yz²))
# from the three pairwise Pearson correlations, each computed from ONE
# exact integer-moment reduce over the joined relation (q216 discipline).
# The closed form means the adjustment costs nothing beyond the moments —
# no residual regressions, no second pass.
@register(
    "q254_partial_correlation",
    tags=("stats", "correlation", "causal"),
    oracle="""
        WITH per_cust AS (
          SELECT o.o_custkey,
                 CAST(COUNT(*) AS BIGINT) AS x,
                 -- whole dollars: cents-scale Σy² overflows BIGINT at the
                 -- customer counts this reduce sees (q239's ceiling lesson)
                 CAST(SUM(CAST(ROUND(o.o_totalprice) AS BIGINT))
                      AS BIGINT) AS y,
                 CAST(MIN(CAST(ROUND(c.c_acctbal) AS BIGINT))
                      AS BIGINT) AS z
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY o.o_custkey
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(z) AS BIGINT) AS sz,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(z * z) AS BIGINT) AS szz,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * z) AS BIGINT) AS sxz,
                 CAST(SUM(y * z) AS BIGINT) AS syz
          FROM per_cust
        ),
        r AS (
          SELECT n,
                 (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                   AS rxy,
                 (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
                   AS rxz,
                 (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
                 / (sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                    * sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
                   AS ryz
          FROM mom
        )
        SELECT n, rxy, rxz, ryz,
               (rxy - rxz * ryz)
                 / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz))
                 AS partial_rxy_given_z
        FROM r
    """,
)
def q254_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of order count and spend given account balance
    — closed form over one exact ten-moment reduce (see block comment)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("y"),
            F.min(F.round(F.col("c_acctbal")).cast("bigint"))
            .cast("bigint")
            .alias("z"),
        )
    )
    mom = per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
    )
    def corr(sab, sa, sb, saa, sbb):
        return (
            f"(CAST(n AS DOUBLE) * {sab} - CAST({sa} AS DOUBLE) * {sb})"
            f" / (sqrt(CAST(n AS DOUBLE) * {saa} - CAST({sa} AS DOUBLE) * {sa})"
            f"    * sqrt(CAST(n AS DOUBLE) * {sbb} - CAST({sb} AS DOUBLE) * {sb}))"
        )
    r = mom.selectExpr(
        "n",
        f"{corr('sxy','sx','sy','sxx','syy')} AS rxy",
        f"{corr('sxz','sx','sz','sxx','szz')} AS rxz",
        f"{corr('syz','sy','sz','syy','szz')} AS ryz",
    )
    return r.selectExpr(
        "n", "rxy", "rxz", "ryz",
        "(rxy - rxz * ryz)"
        " / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz))"
        " AS partial_rxy_given_z",
    )


# ---------------------------------------------------------------------------
# q255 — Qini curve: uplift-model evaluation by score decile
# ---------------------------------------------------------------------------
# Uplift modeling's standard readout: rank users by a targeting score,
# then per cumulative decile compare treated conversions against the
# control conversions SCALED to the treated exposure:
#     Qini(k) = conv_T(k) − conv_C(k) · n_T(k)/n_C(k)
# A positive, front-loaded curve means the score finds persuadables; the
# random-targeting baseline is the straight line to Qini(10). Arms are
# the md5 assignment; the score is the account-balance rank (q210's
# integer-rank discipline); conversions are heavy-purchaser flags. All
# cumulative sums are exact integers; the scaled term is the only double.
@register(
    "q255_qini_uplift",
    tags=("experiment", "uplift", "ranking"),
    oracle=f"""
        WITH conv AS (
          SELECT user_id,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) >= {CONV_MIN}
                      THEN 1 ELSE 0 END AS y
          FROM events GROUP BY user_id
        ),
        scored AS (
          SELECT user_id, y,
                 {sql_hash_bucket('user_id', 2)} AS arm,
                 ROW_NUMBER() OVER (ORDER BY {sql_hash_bucket('user_id * 7919', 1000000)},
                                    user_id) - 1 AS r,
                 COUNT(*) OVER () AS n
          FROM conv
        ),
        deciled AS (
          SELECT LEAST(r * 10 // n, 9) AS decile, arm, y FROM scored
        ),
        cum AS (
          SELECT decile,
                 SUM(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END))
                   OVER (ORDER BY decile) AS nt,
                 SUM(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END))
                   OVER (ORDER BY decile) AS nc,
                 SUM(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END))
                   OVER (ORDER BY decile) AS ct,
                 SUM(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END))
                   OVER (ORDER BY decile) AS cc
          FROM deciled GROUP BY decile
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
               CAST(ct AS BIGINT) AS conv_treat,
               CAST(cc AS BIGINT) AS conv_ctrl,
               CAST(ct AS DOUBLE)
                 - CAST(cc AS DOUBLE) * nt / nc AS qini
        FROM cum
    """,
)
def q255_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative Qini curve over hash-score deciles (deterministic
    pseudo-score so the curve is reproducible; see block comment — exact
    cumulative integers, one scaled double)."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= CONV_MIN,
            1,
        ).otherwise(0).alias("y")
    )
    score = hash_bucket("skey", 1000000)
    scored = (
        conv.select(
            "user_id",
            "y",
            hash_bucket("user_id", 2).alias("arm"),
            (F.col("user_id") * 7919).alias("skey"),
        )
        .select(
            "user_id",
            "y",
            "arm",
            (
                F.row_number().over(W.orderBy(score, "user_id")) - 1
            ).alias("r"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
        )
    )
    deciled = scored.select(
        F.least(F.expr("r * 10 div n"), F.lit(9)).alias("decile"), "arm", "y"
    )
    wc = W.orderBy("decile")
    cum = (
        deciled.groupBy("decile")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("bnt"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("bnc"),
            F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)).alias("bct"),
            F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)).alias("bcc"),
        )
        .select(
            "decile",
            F.sum("bnt").over(wc).alias("nt"),
            F.sum("bnc").over(wc).alias("nc"),
            F.sum("bct").over(wc).alias("ct"),
            F.sum("bcc").over(wc).alias("cc"),
        )
    )
    return cum.selectExpr(
        "CAST(decile AS BIGINT) AS decile",
        "CAST(nt AS BIGINT) AS n_treat",
        "CAST(nc AS BIGINT) AS n_ctrl",
        "CAST(ct AS BIGINT) AS conv_treat",
        "CAST(cc AS BIGINT) AS conv_ctrl",
        "CAST(ct AS DOUBLE) - CAST(cc AS DOUBLE) * nt / nc AS qini",
    )


# ---------------------------------------------------------------------------
# q259 — arc price elasticity by brand (log-free elasticity estimation)
# ---------------------------------------------------------------------------
# Pricing analytics without log-log regression (libm-unsafe): the ARC
# elasticity between consecutive months uses midpoint percentage changes,
#     e = [(q2−q1)/((q2+q1)/2)] / [(p2−p1)/((p2+p1)/2)]
# — a pure rational of exact integer quantity sums and cent-exact average
# prices. Per brand-month: total quantity and quantity-weighted mean
# price; consecutive months pair via a lag window per brand; the reported
# elasticity is the support-weighted mean of month-pair arcs
# (micro-quantized — the q231 sum discipline). Brand-vocabulary-sized
# everything after one fact pass.
@register(
    "q259_arc_elasticity",
    tags=("pricing", "elasticity", "window"),
    oracle="""
        WITH bm AS (
          SELECT p.p_brand AS brand,
                 CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate)
                      AS BIGINT) AS mk,
                 CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty,
                 CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY 1, 2
        ),
        paired AS (
          SELECT brand, mk, qty, cents,
                 LAG(qty) OVER (PARTITION BY brand ORDER BY mk) AS q1,
                 LAG(cents) OVER (PARTITION BY brand ORDER BY mk) AS c1,
                 LAG(mk) OVER (PARTITION BY brand ORDER BY mk) AS mk1
          FROM bm
        ),
        arcs AS (
          SELECT brand,
                 ((CAST(qty AS DOUBLE) - q1) / ((CAST(qty AS DOUBLE) + q1) / 2))
                 / (((CAST(cents AS DOUBLE) / qty)
                     - (CAST(c1 AS DOUBLE) / q1))
                    / (((CAST(cents AS DOUBLE) / qty)
                        + (CAST(c1 AS DOUBLE) / q1)) / 2)) AS e,
                 qty + q1 AS support
          FROM paired
          WHERE mk1 = mk - 1 AND q1 > 0 AND qty > 0
            AND (CAST(cents AS DOUBLE) / qty) <> (CAST(c1 AS DOUBLE) / q1)
        )
        SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CAST(support AS BIGINT)) AS BIGINT) AS total_support,
               CAST(SUM(CAST(ROUND(1000000.0 * support * e) AS BIGINT))
                    AS DOUBLE)
                 / (1000000.0 * SUM(CAST(support AS BIGINT)))
                 AS weighted_elasticity
        FROM arcs GROUP BY brand
    """,
)
def q259_arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-weighted arc price elasticity per brand over consecutive
    ship months (log-free midpoint form; see block comment)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    bm = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("mk"),
        )
        .agg(
            F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    wb = W.partitionBy("brand").orderBy("mk")
    paired = bm.select(
        "brand",
        "mk",
        "qty",
        "cents",
        F.lag("qty").over(wb).alias("q1"),
        F.lag("cents").over(wb).alias("c1"),
        F.lag("mk").over(wb).alias("mk1"),
    )
    arcs = paired.where(
        (F.col("mk1") == F.col("mk") - 1)
        & (F.col("q1") > 0)
        & (F.col("qty") > 0)
        & (
            F.expr("CAST(cents AS DOUBLE) / qty")
            != F.expr("CAST(c1 AS DOUBLE) / q1")
        )
    ).selectExpr(
        "brand",
        "((CAST(qty AS DOUBLE) - q1) / ((CAST(qty AS DOUBLE) + q1) / 2))"
        " / (((CAST(cents AS DOUBLE) / qty) - (CAST(c1 AS DOUBLE) / q1))"
        "    / (((CAST(cents AS DOUBLE) / qty)"
        "        + (CAST(c1 AS DOUBLE) / q1)) / 2)) AS e",
        "qty + q1 AS support",
    )
    return arcs.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("support").cast("bigint")).cast("bigint").alias("total_support"),
        (
            F.sum(
                F.expr("CAST(ROUND(1000000.0 * support * e) AS BIGINT)")
            ).cast("double")
            / (1000000.0 * F.sum(F.col("support").cast("bigint")))
        ).alias("weighted_elasticity"),
    )


# ---------------------------------------------------------------------------
# q260 — Markov baseline accuracy for next-event prediction
# ---------------------------------------------------------------------------
# Before any sequence model ships, the bar is the first-order Markov
# baseline: predict the most likely next event type given the current one
# (argmax of q85's transition matrix, deterministic alphabetical
# tie-break) and measure top-1 accuracy on the same stream. Everything is
# exact integers: the matrix argmax packs (count, reversed-initial) into
# one BIGINT max_by key (c*1000 + 255 - ascii(y) — count dominates, the
# alphabetically-first type wins ties) and accuracy is a ratio of exact
# counts per state.
@register(
    "q260_markov_baseline_accuracy",
    tags=("sequence", "evaluation", "baseline"),
    oracle="""
        WITH trans AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
                 event_type AS y
          FROM events
        ),
        counts AS (
          SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
          FROM trans WHERE x IS NOT NULL GROUP BY x, y
        ),
        pred AS (
          SELECT x, max_by(y, c * 1000 + 255 - ascii(y)) AS y_hat,
                 CAST(MAX(c) AS BIGINT) AS c_hat,
                 CAST(SUM(c) AS BIGINT) AS n
          FROM counts GROUP BY x
        )
        SELECT p.x AS state, p.y_hat AS predicted_next, p.n AS n_obs,
               p.c_hat AS n_correct,
               CAST(p.c_hat AS DOUBLE) / p.n AS top1_accuracy
        FROM pred p
    """,
)
def q260_markov_baseline_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 accuracy of the first-order Markov next-event baseline per
    state — exact counts, deterministic argmax tie-break (see block
    comment)."""
    ev = load_table(spark, sf_dir, "events")
    trans = ev.select(
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("x"),
        F.col("event_type").alias("y"),
    ).where(F.col("x").isNotNull())
    counts = trans.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pred = counts.groupBy("x").agg(
        F.expr("max_by(y, c * 1000 + 255 - ascii(y))").alias("y_hat"),
        F.max("c").cast("bigint").alias("c_hat"),
        F.sum("c").cast("bigint").alias("n"),
    )
    return pred.selectExpr(
        "x AS state",
        "y_hat AS predicted_next",
        "n AS n_obs",
        "c_hat AS n_correct",
        "CAST(c_hat AS DOUBLE) / n AS top1_accuracy",
    )


# ---------------------------------------------------------------------------
# q261 — Kruskal-Wallis H: distribution-free k-group comparison
# ---------------------------------------------------------------------------
# "Does order value differ by region?" without normality assumptions:
# the rank-based one-way ANOVA. H = [12/(n(n+1))]·Σ nᵢ·r̄ᵢ² − 3(n+1),
# divided by the tie correction 1 − Σ(t³−t)/(n³−n). Ranks use q253's
# doubled-integer average-rank trick (Σ of doubled ranks per group is an
# exact BIGINT), and the tie factor is exact integer sums over the
# value-domain relation — so H is a closing expression on exact inputs.
# One rank window over the order relation (documented), two hash aggs.
@register(
    "q261_kruskal_wallis",
    tags=("stats", "nonparametric", "rank"),
    oracle="""
        WITH labeled AS (
          SELECT r.r_name AS region,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        ranked AS (
          SELECT region,
                 CAST(2 * RANK() OVER (ORDER BY v)
                      + COUNT(*) OVER (PARTITION BY v) - 1 AS BIGINT) AS r2
          FROM labeled
        ),
        grp AS (
          SELECT region, CAST(COUNT(*) AS BIGINT) AS ni,
                 CAST(SUM(r2) AS BIGINT) AS sr2
          FROM ranked GROUP BY region
        ),
        ties AS (
          SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
          FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM labeled GROUP BY v)
        ),
        tot AS (SELECT CAST(SUM(ni) AS BIGINT) AS n FROM grp),
        h AS (
          -- whole-unit rounding: the summand is ~1e14 at sf0.1, where
          -- integer resolution is already ulp-level; a finer scale
          -- overflows BIGINT (q239 ceiling lesson)
          SELECT CAST(SUM(CAST(ROUND(
                   (CAST(sr2 AS DOUBLE) / 2) * (CAST(sr2 AS DOUBLE) / 2) / ni)
                 AS BIGINT)) AS DOUBLE) AS s_term,
                 MIN(t.n) AS n
          FROM grp CROSS JOIN tot t
        )
        SELECT h.n AS n_orders,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM grp) AS k_groups,
               ((12.0 / (CAST(h.n AS DOUBLE) * (h.n + 1))) * h.s_term
                - 3.0 * (h.n + 1))
               / (1.0 - CAST(ties.tsum AS DOUBLE)
                        / (CAST(h.n AS DOUBLE) * h.n * h.n - h.n))
                 AS h_statistic
        FROM h CROSS JOIN ties
    """,
)
def q261_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H for order value across regions — doubled-integer
    average ranks, exact tie correction, one closing expression (see
    block comment)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    labeled = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        )
    )
    ranked = labeled.select(
        "region",
        (
            2 * F.rank().over(W.orderBy("v"))
            + F.count(F.lit(1)).over(W.partitionBy("v"))
            - 1
        ).cast("bigint").alias("r2"),
    )
    grp = ranked.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("ni"),
        F.sum("r2").cast("bigint").alias("sr2"),
    )
    ties = (
        labeled.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("bigint")
            .alias("tsum")
        )
    )
    tot = grp.agg(F.sum("ni").cast("bigint").alias("n"))
    h = grp.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(
                F.expr(
                    "CAST(ROUND((CAST(sr2 AS DOUBLE) / 2)"
                    " * (CAST(sr2 AS DOUBLE) / 2) / ni) AS BIGINT)"
                )
            ).cast("double")
        ).alias("s_term"),
        F.min("n").alias("n"),
    )
    k = grp.agg(F.count(F.lit(1)).cast("bigint").alias("k_groups"))
    return (
        h.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(k))
        .selectExpr(
            "n AS n_orders",
            "k_groups",
            "((12.0 / (CAST(n AS DOUBLE) * (n + 1))) * s_term"
            " - 3.0 * (n + 1))"
            " / (1.0 - CAST(tsum AS DOUBLE)"
            "          / (CAST(n AS DOUBLE) * n * n - n)) AS h_statistic",
        )
    )


# ---------------------------------------------------------------------------
# q262 — power analysis: sample size for the next experiment
# ---------------------------------------------------------------------------
# Experiment design closes the loop the readouts (q120/q241/q255) open:
# given the OBSERVED baseline conversion rate, how many users per arm
# does detecting a given absolute lift take at α=0.05, power=0.80?
#     n = (z_{α/2} + z_β)² · (p₁q₁ + p₂q₂) / (p₁ − p₂)²
# The normal quantiles are literals CAST AS DOUBLE (libm-free — the q218
# discipline); the baseline rate comes from one exact integer reduce;
# three MDE scenarios are a literal row explode. Also reports achievable
# MDE at the CURRENT population size (inverted formula, sqrt only).
_PWR_Z_ALPHA = "1.959963984540054"  # z_{0.975}
_PWR_Z_BETA = "0.8416212335729143"  # z_{0.80}
_PWR_MDES = (0.02, 0.05, 0.10)


@register(
    "q262_power_analysis",
    tags=("experiment", "design", "stats"),
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) >= {CONV_MIN}
                      THEN 1 ELSE 0 END AS conv
          FROM events GROUP BY user_id
        ),
        base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(conv) AS BIGINT) AS k
          FROM u
        ),
        mdes AS (
          SELECT unnest(ARRAY[{", ".join(f"CAST({m} AS DOUBLE)" for m in _PWR_MDES)}]) AS mde
        )
        SELECT b.n_users, b.k,
               CAST(b.k AS DOUBLE) / b.n_users AS p1,
               m.mde,
               CAST(CEIL(
                 (CAST({_PWR_Z_ALPHA} AS DOUBLE)
                  + CAST({_PWR_Z_BETA} AS DOUBLE))
                 * (CAST({_PWR_Z_ALPHA} AS DOUBLE)
                    + CAST({_PWR_Z_BETA} AS DOUBLE))
                 * ((CAST(b.k AS DOUBLE) / b.n_users)
                      * (1 - CAST(b.k AS DOUBLE) / b.n_users)
                    + (CAST(b.k AS DOUBLE) / b.n_users + m.mde)
                      * (1 - (CAST(b.k AS DOUBLE) / b.n_users + m.mde)))
                 / (m.mde * m.mde)) AS BIGINT) AS n_per_arm
        FROM base b CROSS JOIN mdes m
    """,
)
def q262_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required users per arm to detect 2/5/10-point conversion lifts at
    α=0.05, power=0.80, from the observed baseline (literal z quantiles —
    see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= CONV_MIN,
            1,
        ).otherwise(0).alias("conv")
    )
    base = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    mdes = literal_df(spark, [(m,) for m in _PWR_MDES], "mde double")
    zsum = f"(CAST({_PWR_Z_ALPHA} AS DOUBLE) + CAST({_PWR_Z_BETA} AS DOUBLE))"
    p1 = "(CAST(k AS DOUBLE) / n_users)"
    return base.crossJoin(F.broadcast(mdes)).selectExpr(
        "n_users",
        "k",
        f"{p1} AS p1",
        "mde",
        f"CAST(CEIL({zsum} * {zsum}"
        f" * ({p1} * (1 - {p1}) + ({p1} + mde) * (1 - ({p1} + mde)))"
        " / (mde * mde)) AS BIGINT) AS n_per_arm",
    )


# ---------------------------------------------------------------------------
# q263 — jackknife variance of a ratio metric (delete-one-bucket)
# ---------------------------------------------------------------------------
# Ratio metrics (revenue per order, conversion per user) have no closed
# i.i.d. variance — the standard production answer is the delete-one
# jackknife over g deterministic buckets:
#     var = (g−1)/g · Σ (θ₋ᵢ − θ̄)²
# where θ₋ᵢ recomputes the ratio EXCLUDING bucket i — from totals minus
# bucket sums, so the whole estimate is one bucket-level reduce, not g
# passes (the algebraic identity that makes jackknife free at scale).
# Buckets are md5 (q91 idiom); every θ₋ᵢ is a ratio of exact integers;
# the squared-deviation sum is micro-quantized (q231 discipline).
_JK_BUCKETS = 32


@register(
    "q263_jackknife_ratio_variance",
    tags=("stats", "resampling", "variance"),
    oracle=f"""
        WITH b AS (
          SELECT {sql_hash_bucket('o_custkey', _JK_BUCKETS)} AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS tn,
                 CAST(SUM(cents) AS BIGINT) AS tc,
                 CAST(COUNT(*) AS BIGINT) AS g
          FROM b
        ),
        loo AS (
          SELECT b.bucket,
                 CAST(t.tc - b.cents AS DOUBLE) / (t.tn - b.n) AS theta_i,
                 t.g, t.tn, t.tc
          FROM b CROSS JOIN tot t
        ),
        mean_ AS (
          SELECT CAST(SUM(CAST(ROUND(1000000.0 * theta_i) AS BIGINT))
                      AS DOUBLE) / (1000000.0 * MIN(g)) AS tbar,
                 MIN(g) AS g, MIN(tn) AS tn, MIN(tc) AS tc
          FROM loo
        )
        SELECT m.g AS n_buckets,
               CAST(m.tc AS DOUBLE) / (100.0 * m.tn) AS mean_order_value,
               (CAST(m.g AS DOUBLE) - 1) / m.g
                 * (SELECT CAST(SUM(CAST(ROUND(1000.0
                       * (l.theta_i - m.tbar) * (l.theta_i - m.tbar))
                     AS BIGINT)) AS DOUBLE) / 1000.0 FROM loo l)
                 / 10000.0 AS jackknife_variance,
               sqrt((CAST(m.g AS DOUBLE) - 1) / m.g
                 * (SELECT CAST(SUM(CAST(ROUND(1000.0
                       * (l.theta_i - m.tbar) * (l.theta_i - m.tbar))
                     AS BIGINT)) AS DOUBLE) / 1000.0 FROM loo l))
                 / 100.0 AS jackknife_se
        FROM mean_ m
    """,
)
def q263_jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife variance/SE of mean order value — the
    algebraic totals-minus-bucket form, one bucket-level reduce (see
    block comment)."""
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy(
        hash_bucket("o_custkey", _JK_BUCKETS).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    ).localCheckpoint(eager=False)  # lazy cut: totals + leave-one-out reuse
    tot = b.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("cents").cast("bigint").alias("tc"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
    )
    loo = b.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        "CAST(tc - cents AS DOUBLE) / (tn - n) AS theta_i",
        "g", "tn", "tc",
    )
    mean_ = loo.agg(
        (
            F.sum(F.expr("CAST(ROUND(1000000.0 * theta_i) AS BIGINT)")).cast(
                "double"
            )
            / (1000000.0 * F.min("g"))
        ).alias("tbar"),
        F.min("g").alias("g"),
        F.min("tn").alias("tn"),
        F.min("tc").alias("tc"),
    )
    dev = loo.crossJoin(F.broadcast(mean_.select("tbar"))).agg(
        (
            F.sum(
                F.expr(
                    "CAST(ROUND(1000.0 * (theta_i - tbar)"
                    " * (theta_i - tbar)) AS BIGINT)"
                )
            ).cast("double")
            / 1000.0  # milli-quantized: deviations are cents², nano would
            # overflow BIGINT on sparse buckets (q239 ceiling lesson)
        ).alias("ssd")
    )
    return mean_.crossJoin(F.broadcast(dev)).selectExpr(
        "g AS n_buckets",
        "CAST(tc AS DOUBLE) / (100.0 * tn) AS mean_order_value",
        "(CAST(g AS DOUBLE) - 1) / g * ssd / 10000.0 AS jackknife_variance",
        "sqrt((CAST(g AS DOUBLE) - 1) / g * ssd) / 100.0 AS jackknife_se",
    )


# ---------------------------------------------------------------------------
# q265 — James-Stein / empirical-Bayes shrinkage of group means
# ---------------------------------------------------------------------------
# The multilevel-model workhorse: small nations' mean order values are
# noisy, and ranking raw means rewards noise. Method-of-moments empirical
# Bayes shrinks each group mean toward the grand mean with weight
#     w_i = σ²_b / (σ²_b + σ²_w / n_i)
# where σ²_w is the pooled within-group variance and σ²_b the
# between-group variance component (one-way ANOVA decomposition, all from
# exact integer moment sums — dollars, q254's overflow-aware unit). The
# whole fit is two hash aggs and a closing expression per group — no
# iterative solver (this IS the conjugate-normal posterior mean).
@register(
    "q265_james_stein_shrinkage",
    tags=("stats", "bayes", "hierarchy"),
    oracle="""
        WITH labeled AS (
          SELECT n.n_name AS nation,
                 CAST(ROUND(o.o_totalprice) AS BIGINT) AS v
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
        ),
        grp AS (
          SELECT nation, CAST(COUNT(*) AS BIGINT) AS ni,
                 CAST(SUM(v) AS BIGINT) AS s,
                 CAST(SUM(v * v) AS BIGINT) AS ss
          FROM labeled GROUP BY nation
        ),
        pool AS (
          SELECT CAST(SUM(ni) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(s) AS BIGINT) AS ts,
                 -- whole-unit quantized (summands ~1e14: integer
                 -- resolution is ulp-level, order-free — q261 discipline)
                 CAST(SUM(CAST(ROUND(CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * s / ni) AS BIGINT)) AS DOUBLE)
                   AS ssw,
                 CAST(SUM(CAST(ROUND(CAST(ni AS DOUBLE)
                     * (CAST(s AS DOUBLE) / ni) * (CAST(s AS DOUBLE) / ni))
                     AS BIGINT)) AS DOUBLE) AS ssb_raw
          FROM grp
        ),
        vc AS (
          SELECT n, k, ts,
                 ssw / (n - k) AS var_w,
                 greatest(
                   ((ssb_raw - (CAST(ts AS DOUBLE) * ts / n)) / (k - 1)
                    - ssw / (n - k))
                   / (CAST(n AS DOUBLE) / k), 0.0) AS var_b
          FROM pool
        )
        SELECT g.nation, g.ni,
               CAST(g.s AS DOUBLE) / g.ni AS raw_mean,
               CAST(vc.ts AS DOUBLE) / vc.n AS grand_mean,
               vc.var_b / (vc.var_b + vc.var_w / g.ni) AS w,
               (vc.var_b / (vc.var_b + vc.var_w / g.ni))
                 * (CAST(g.s AS DOUBLE) / g.ni)
               + (1 - vc.var_b / (vc.var_b + vc.var_w / g.ni))
                 * (CAST(vc.ts AS DOUBLE) / vc.n) AS shrunk_mean
        FROM grp g CROSS JOIN vc
    """,
)
def q265_james_stein_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-nation mean order value toward the
    grand mean with method-of-moments variance components (see block
    comment — exact moments, closed form, no solver)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    labeled = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.round("o_totalprice").cast("bigint").alias("v"),
        )
    )
    grp = labeled.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("ni"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )
    pool = grp.agg(
        F.sum("ni").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s").cast("bigint").alias("ts"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(ss AS DOUBLE)"
                " - CAST(s AS DOUBLE) * s / ni) AS BIGINT)"
            )
        ).cast("double").alias("ssw"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(ni AS DOUBLE) * (CAST(s AS DOUBLE) / ni)"
                " * (CAST(s AS DOUBLE) / ni)) AS BIGINT)"
            )
        ).cast("double").alias("ssb_raw"),
    )
    vc = pool.selectExpr(
        "n", "k", "ts",
        "ssw / (n - k) AS var_w",
        "greatest(((ssb_raw - (CAST(ts AS DOUBLE) * ts / n)) / (k - 1)"
        " - ssw / (n - k)) / (CAST(n AS DOUBLE) / k), 0.0) AS var_b",
    )
    return grp.crossJoin(F.broadcast(vc)).selectExpr(
        "nation",
        "ni",
        "CAST(s AS DOUBLE) / ni AS raw_mean",
        "CAST(ts AS DOUBLE) / n AS grand_mean",
        "var_b / (var_b + var_w / ni) AS w",
        "(var_b / (var_b + var_w / ni)) * (CAST(s AS DOUBLE) / ni)"
        " + (1 - var_b / (var_b + var_w / ni))"
        "   * (CAST(ts AS DOUBLE) / n) AS shrunk_mean",
    )


# ---------------------------------------------------------------------------
# q268 — decision stump: best single Gini split (tree induction, level 1)
# ---------------------------------------------------------------------------
# The first level of every gradient-boosted tree: over candidate split
# points of a feature (order price, 20 equi-width bucket boundaries),
# pick the split minimizing weighted Gini impurity of the late-shipment
# label. Cumulative bucket sums price EVERY candidate with one pass
# (q242's prefix-sum discipline); Gini terms are exact rationals of
# integer counts; the argmin uses quantized scores with a deterministic
# lowest-boundary tie-break. This is the distributed histogram-split
# algorithm XGBoost/LightGBM run per feature per node.
_STUMP_BUCKETS = 20


@register(
    "q268_gini_stump",
    tags=("ml", "tree", "split"),
    oracle=f"""
        WITH labeled AS (
          SELECT o.o_orderkey,
                 CAST(ROUND(o.o_totalprice) AS BIGINT) AS d,
                 MAX(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                          CAST(l.l_shipdate AS DATE)) > {_LATE_DAYS}
                          THEN 1 ELSE 0 END) AS y
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY o.o_orderkey, o.o_totalprice
        ),
        bounds AS (
          SELECT MIN(d) AS lo, MAX(d) + 1 AS hi FROM labeled
        ),
        bucketed AS (
          SELECT CAST(({_STUMP_BUCKETS} * (lb.d - b.lo)) // (b.hi - b.lo)
                      AS BIGINT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS k
          FROM labeled lb CROSS JOIN bounds b GROUP BY 1
        ),
        cum AS (
          SELECT bucket,
                 SUM(n) OVER (ORDER BY bucket) AS nl,
                 SUM(k) OVER (ORDER BY bucket) AS kl,
                 SUM(n) OVER () AS nt,
                 SUM(k) OVER () AS kt
          FROM bucketed
        ),
        scored AS (
          SELECT bucket, nl, kl, nt, kt,
                 CAST(ROUND(1000000000.0 * (
                   (CAST(nl AS DOUBLE) / nt)
                     * (1 - (CAST(kl AS DOUBLE) / nl) * (CAST(kl AS DOUBLE) / nl)
                          - (1 - CAST(kl AS DOUBLE) / nl)
                            * (1 - CAST(kl AS DOUBLE) / nl))
                   + (CAST(nt - nl AS DOUBLE) / nt)
                     * (1 - (CAST(kt - kl AS DOUBLE) / (nt - nl))
                            * (CAST(kt - kl AS DOUBLE) / (nt - nl))
                          - (1 - CAST(kt - kl AS DOUBLE) / (nt - nl))
                            * (1 - CAST(kt - kl AS DOUBLE) / (nt - nl)))
                 )) AS BIGINT) AS gq
          FROM cum WHERE nl < nt
        ),
        best AS (SELECT MIN(gq) AS m FROM scored)
        SELECT CAST(MIN(s.bucket) AS BIGINT) AS split_bucket,
               CAST(MIN(s.nl) AS BIGINT) AS n_left,
               CAST(MIN(s.nt - s.nl) AS BIGINT) AS n_right,
               MIN(CAST(s.kl AS DOUBLE) / s.nl) AS left_rate,
               MIN(CAST(s.kt - s.kl AS DOUBLE) / (s.nt - s.nl)) AS right_rate,
               MIN(CAST(s.gq AS DOUBLE) / 1000000000.0) AS weighted_gini
        FROM scored s CROSS JOIN best b
        WHERE s.gq = b.m
    """,
)
def q268_gini_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single Gini split of late-shipment risk over 20 price-bucket
    boundaries — one cumulative pass prices all candidates, quantized
    argmin with lowest-boundary tie-break (see block comment)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # aggregate BEFORE the join (r16, guide §2.3): o_orderdate is constant
    # per order, so max over the order's lineitems of the late indicator
    # equals the indicator on max(l_shipdate) — lineitem partial-aggregates
    # map-side to ≤|orders| narrow rows before any exchange instead of
    # shuffling every joined row. o_orderkey is the orders PK, so the old
    # (o_orderkey, o_totalprice) group key is equivalent. Lazy cut: the
    # label relation feeds both the bounds probe and the bucket pass.
    # Measured fresh min-of-5 at sf0.1: 1.37s vs 1.62s for the old
    # join-then-group shape with the same checkpoint (baseline 1.57s).
    li_last = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship")
    )
    labeled = (
        o.join(li_last, o.o_orderkey == F.col("okey"))
        .select(
            F.round("o_totalprice").cast("bigint").alias("d"),
            F.when(
                F.datediff(
                    F.col("last_ship"), F.col("o_orderdate").cast("date")
                )
                > _LATE_DAYS,
                1,
            )
            .otherwise(0)
            .alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    bounds = labeled.agg(
        F.min("d").alias("lo"), (F.max("d") + 1).alias("hi")
    )
    bucketed = (
        labeled.crossJoin(F.broadcast(bounds))
        .selectExpr(
            f"CAST(({_STUMP_BUCKETS} * (d - lo)) div (hi - lo) AS BIGINT)"
            " AS bucket",
            "y",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("k"),
        )
    )
    wc = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = bucketed.select(
        "bucket",
        F.sum("n").over(wc).alias("nl"),
        F.sum("k").over(wc).alias("kl"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("k").over(wall).alias("kt"),
    )
    pl = "CAST(kl AS DOUBLE) / nl"
    pr = "CAST(kt - kl AS DOUBLE) / (nt - nl)"
    scored = cum.where(F.col("nl") < F.col("nt")).selectExpr(
        "bucket", "nl", "kl", "nt", "kt",
        "CAST(ROUND(1000000000.0 * ("
        f"(CAST(nl AS DOUBLE) / nt) * (1 - ({pl}) * ({pl})"
        f" - (1 - {pl}) * (1 - {pl}))"
        f" + (CAST(nt - nl AS DOUBLE) / nt) * (1 - ({pr}) * ({pr})"
        f" - (1 - {pr}) * (1 - {pr}))"
        ")) AS BIGINT) AS gq",
    )
    best = scored.agg(F.min("gq").alias("m"))
    return (
        scored.crossJoin(F.broadcast(best))
        .where(F.col("gq") == F.col("m"))
        .agg(
            F.min("bucket").cast("bigint").alias("split_bucket"),
            F.min("nl").cast("bigint").alias("n_left"),
            F.min(F.col("nt") - F.col("nl")).cast("bigint").alias("n_right"),
            F.min(F.expr(pl)).alias("left_rate"),
            F.min(F.expr(pr)).alias("right_rate"),
            F.min(F.col("gq").cast("double") / 1000000000.0).alias(
                "weighted_gini"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q275 — 2×2 factorial experiment readout (two factors + interaction)
# ---------------------------------------------------------------------------
# Shipping two features at once with independent hash assignment gives a
# 2×2 factorial for free — and the readout that matters is whether the
# features INTERACT. Effects in the standard contrast algebra:
#     A  = (ȳ_a1 − ȳ_a0),  B = (ȳ_b1 − ȳ_b0)
#     AB = (ȳ_11 − ȳ_10) − (ȳ_01 − ȳ_00)   (difference-in-differences of
# the randomized cells — q231's algebra under full randomization). Two
# independent md5 assignments (different salts, q221's keying), exact
# integer cell moments, micro-quantized variance pooling for the
# interaction z.
@register(
    "q275_factorial_experiment",
    tags=("experiment", "factorial", "stats"),
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 {sql_hash_bucket('user_id', 2)} AS a,
                 {sql_hash_bucket("user_id * 31 + 7", 2)} AS b,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(ROUND(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY user_id
        ),
        cells AS (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS s,
                 CAST(SUM(y * y) AS BIGINT) AS ss
          FROM u GROUP BY a, b
        ),
        wide AS (
          SELECT
            MIN(CASE WHEN a = 0 AND b = 0 THEN CAST(s AS DOUBLE) / n END) AS m00,
            MIN(CASE WHEN a = 0 AND b = 1 THEN CAST(s AS DOUBLE) / n END) AS m01,
            MIN(CASE WHEN a = 1 AND b = 0 THEN CAST(s AS DOUBLE) / n END) AS m10,
            MIN(CASE WHEN a = 1 AND b = 1 THEN CAST(s AS DOUBLE) / n END) AS m11,
            CAST(SUM(n) AS BIGINT) AS n_users,
            CAST(SUM(CAST(ROUND(1000000.0 *
                  (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                  / (CAST(n AS DOUBLE) * (n - 1) * n)) AS BIGINT))
                 AS DOUBLE) / 1000000.0 AS var_sum
          FROM cells
        )
        SELECT n_users,
               ((m10 + m11) / 2 - (m00 + m01) / 2) / 100.0 AS effect_a,
               ((m01 + m11) / 2 - (m00 + m10) / 2) / 100.0 AS effect_b,
               ((m11 - m10) - (m01 - m00)) / 100.0 AS interaction_ab,
               ((m11 - m10) - (m01 - m00)) / sqrt(var_sum) AS interaction_z
        FROM wide
    """,
)
def q275_factorial_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 factorial readout on per-user purchase spend: both main effects
    and the interaction contrast with its pooled-variance z (see block
    comment)."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("y")
        )
        .select(
            "user_id",
            (F.col("user_id") * 31 + 7).alias("bkey"),  # factor-B salt
            "y",
        )
        .select(
            hash_bucket("user_id", 2).alias("a"),
            hash_bucket("bkey", 2).alias("b"),
            "y",
        )
    )
    cells = u.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
    )
    wide = cells.agg(
        F.min(F.when((F.col("a") == 0) & (F.col("b") == 0),
                     F.col("s").cast("double") / F.col("n"))).alias("m00"),
        F.min(F.when((F.col("a") == 0) & (F.col("b") == 1),
                     F.col("s").cast("double") / F.col("n"))).alias("m01"),
        F.min(F.when((F.col("a") == 1) & (F.col("b") == 0),
                     F.col("s").cast("double") / F.col("n"))).alias("m10"),
        F.min(F.when((F.col("a") == 1) & (F.col("b") == 1),
                     F.col("s").cast("double") / F.col("n"))).alias("m11"),
        F.sum("n").cast("bigint").alias("n_users"),
        (
            F.sum(
                F.expr(
                    "CAST(ROUND(1000000.0 *"
                    " (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)"
                    " / (CAST(n AS DOUBLE) * (n - 1) * n)) AS BIGINT)"
                )
            ).cast("double")
            / 1000000.0
        ).alias("var_sum"),
    )
    return wide.selectExpr(
        "n_users",
        "((m10 + m11) / 2 - (m00 + m01) / 2) / 100.0 AS effect_a",
        "((m01 + m11) / 2 - (m00 + m10) / 2) / 100.0 AS effect_b",
        "((m11 - m10) - (m01 - m00)) / 100.0 AS interaction_ab",
        "((m11 - m10) - (m01 - m00)) / sqrt(var_sum) AS interaction_z",
    )


# ---------------------------------------------------------------------------
# q277 — reserve-price revenue curve (second-price auction tuning)
# ---------------------------------------------------------------------------
# Mechanism design on observed bids: treating each part's lineitem prices
# as bids in a second-price auction, the seller's revenue at reserve r is
#     Σ_parts [ max_bid ≥ r ] · max(second_bid, r)
# — the curve whose argmax sets the reserve. Top-2 bids per part come
# from one rank window (partitioned by part); candidate reserves are the
# deciles of the max-bid distribution (exact integer percentiles,
# broadcast); the curve is one broadcast-explode + conditional sum over
# exact cents. The classic empirical-Myerson workflow, distributed.
@register(
    "q277_reserve_price_curve",
    tags=("auction", "pricing", "window"),
    oracle="""
        WITH bids AS (
          SELECT l_partkey,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS b,
                 ROW_NUMBER() OVER (PARTITION BY l_partkey
                   ORDER BY ROUND(l_extendedprice * 100) DESC,
                            l_orderkey, l_linenumber) AS rk
          FROM lineitem
        ),
        top2 AS (
          SELECT l_partkey,
                 MAX(CASE WHEN rk = 1 THEN b END) AS b1,
                 COALESCE(MAX(CASE WHEN rk = 2 THEN b END), 0) AS b2
          FROM bids WHERE rk <= 2 GROUP BY l_partkey
        ),
        reserves AS (
          SELECT unnest(quantile_disc(b1, [0.1, 0.3, 0.5, 0.7, 0.9])) AS r
          FROM top2
        ),
        curve AS (
          SELECT r.r,
                 CAST(COUNT(CASE WHEN t.b1 >= r.r THEN 1 END) AS BIGINT)
                   AS n_sold,
                 CAST(SUM(CASE WHEN t.b1 >= r.r
                               THEN greatest(t.b2, r.r) ELSE 0 END)
                      AS BIGINT) AS revenue_cents
          FROM top2 t CROSS JOIN reserves r
          GROUP BY r.r
        )
        SELECT CAST(r AS BIGINT) AS reserve_cents, n_sold,
               CAST(revenue_cents AS DOUBLE) / 100.0 AS revenue
        FROM curve
    """,
)
def q277_reserve_price_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-price revenue at five decile reserve candidates over per-part
    bid stacks (see block comment — one rank window, broadcast reserves,
    exact cents)."""
    # spread_key: ×1.07 at local[4], ×1.16 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_partkey")
    wb = W.partitionBy("l_partkey").orderBy(
        F.round(F.col("l_extendedprice") * 100).desc(),
        "l_orderkey",
        "l_linenumber",
    )
    bids = li.select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("b"),
        F.row_number().over(wb).alias("rk"),
    ).where(F.col("rk") <= 2)
    top2 = bids.groupBy("l_partkey").agg(
        F.max(F.when(F.col("rk") == 1, F.col("b"))).alias("b1"),
        F.coalesce(
            F.max(F.when(F.col("rk") == 2, F.col("b"))), F.lit(0)
        ).alias("b2"),
    )
    reserves = top2.agg(
        *[
            F.expr(f"percentile_disc({t}) WITHIN GROUP (ORDER BY b1)").alias(
                f"r{i}"
            )
            for i, t in enumerate((0.1, 0.3, 0.5, 0.7, 0.9))
        ]
    ).selectExpr(
        "stack(5, r0, r1, r2, r3, r4) AS r"
    )
    curve = (
        top2.crossJoin(F.broadcast(reserves))
        .groupBy("r")
        .agg(
            F.count(F.when(F.col("b1") >= F.col("r"), 1))
            .cast("bigint")
            .alias("n_sold"),
            F.sum(
                F.when(
                    F.col("b1") >= F.col("r"),
                    F.greatest(F.col("b2"), F.col("r")),
                ).otherwise(0)
            ).cast("bigint").alias("revenue_cents"),
        )
    )
    return curve.selectExpr(
        "CAST(r AS BIGINT) AS reserve_cents",
        "n_sold",
        "CAST(revenue_cents AS DOUBLE) / 100.0 AS revenue",
    )


# ---------------------------------------------------------------------------
# q279 — regression discontinuity: jump at a price threshold
# ---------------------------------------------------------------------------
# The third causal design in the toolkit (q231 DiD, q232 stratification):
# when treatment switches at a known cutoff of a running variable, the
# OUTCOME jump at the cutoff — after fitting local linear trends on each
# side — identifies the effect. Running variable: order price; cutoff:
# $300k; bandwidth ±$100k; outcome: late-shipment rate. Both side fits
# are closed-form OLS from exact integer moments (q227's machinery); the
# jump is the difference of the two intercepts AT the cutoff. One fact
# pass, two moment rows, one closing expression.
_RD_CUTOFF = 300_000
_RD_BW = 100_000


def _rd_fit(side: str) -> dict[str, str]:
    b = (
        f"(CAST({side}_k AS DOUBLE) * {side}_sxy"
        f" - CAST({side}_sx AS DOUBLE) * {side}_sy)"
        f" / (CAST({side}_k AS DOUBLE) * {side}_sxx"
        f" - CAST({side}_sx AS DOUBLE) * {side}_sx)"
    )
    return {
        "beta": b,
        "at_cut": f"(CAST({side}_sy AS DOUBLE) - ({b}) * {side}_sx)"
                  f" / {side}_k",
    }


@register(
    "q279_regression_discontinuity",
    tags=("causal", "rdd", "stats"),
    oracle=f"""
        WITH pts AS (
          SELECT o.o_orderkey,
                 CAST(ROUND(o.o_totalprice) AS BIGINT) - {_RD_CUTOFF} AS x,
                 MAX(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                          CAST(l.l_shipdate AS DATE))
                               > {_LATE_DAYS}
                          THEN 1 ELSE 0 END) AS y
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          WHERE ROUND(o.o_totalprice) >= {_RD_CUTOFF - _RD_BW}
            AND ROUND(o.o_totalprice) < {_RD_CUTOFF + _RD_BW}
          GROUP BY o.o_orderkey, o.o_totalprice
        ),
        mom AS (
          SELECT
            CAST(SUM(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS l_k,
            CAST(SUM(CASE WHEN x < 0 THEN x ELSE 0 END) AS BIGINT) AS l_sx,
            CAST(SUM(CASE WHEN x < 0 THEN y ELSE 0 END) AS BIGINT) AS l_sy,
            CAST(SUM(CASE WHEN x < 0 THEN x * x ELSE 0 END) AS BIGINT) AS l_sxx,
            CAST(SUM(CASE WHEN x < 0 THEN x * y ELSE 0 END) AS BIGINT) AS l_sxy,
            CAST(SUM(CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_k,
            CAST(SUM(CASE WHEN x >= 0 THEN x ELSE 0 END) AS BIGINT) AS r_sx,
            CAST(SUM(CASE WHEN x >= 0 THEN y ELSE 0 END) AS BIGINT) AS r_sy,
            CAST(SUM(CASE WHEN x >= 0 THEN x * x ELSE 0 END) AS BIGINT) AS r_sxx,
            CAST(SUM(CASE WHEN x >= 0 THEN x * y ELSE 0 END) AS BIGINT) AS r_sxy
          FROM pts
        )
        SELECT l_k AS n_left, r_k AS n_right,
               {_rd_fit('l')['beta']} AS slope_left,
               {_rd_fit('r')['beta']} AS slope_right,
               {_rd_fit('l')['at_cut']} AS rate_at_cut_left,
               {_rd_fit('r')['at_cut']} AS rate_at_cut_right,
               ({_rd_fit('r')['at_cut']}) - ({_rd_fit('l')['at_cut']})
                 AS rd_jump
        FROM mom
    """,
)
def q279_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-linear RD estimate of the late-shipment-rate jump at the
    $300k price threshold (±$100k bandwidth, closed-form side fits — see
    block comment)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pts = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(
            (F.round("o_totalprice") >= _RD_CUTOFF - _RD_BW)
            & (F.round("o_totalprice") < _RD_CUTOFF + _RD_BW)
        )
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.max(
                F.when(
                    F.datediff(
                        F.col("l_shipdate").cast("date"),
                        F.col("o_orderdate").cast("date"),
                    )
                    > _LATE_DAYS,
                    1,
                ).otherwise(0)
            ).alias("y")
        )
        .select(
            (F.round("o_totalprice").cast("bigint") - _RD_CUTOFF).alias("x"),
            "y",
        )
    )
    left = F.col("x") < 0
    right = F.col("x") >= 0
    mom = pts.agg(
        F.sum(F.when(left, 1).otherwise(0)).cast("bigint").alias("l_k"),
        F.sum(F.when(left, F.col("x")).otherwise(0)).cast("bigint").alias("l_sx"),
        F.sum(F.when(left, F.col("y")).otherwise(0)).cast("bigint").alias("l_sy"),
        F.sum(F.when(left, F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint").alias("l_sxx"),
        F.sum(F.when(left, F.col("x") * F.col("y")).otherwise(0))
        .cast("bigint").alias("l_sxy"),
        F.sum(F.when(right, 1).otherwise(0)).cast("bigint").alias("r_k"),
        F.sum(F.when(right, F.col("x")).otherwise(0)).cast("bigint").alias("r_sx"),
        F.sum(F.when(right, F.col("y")).otherwise(0)).cast("bigint").alias("r_sy"),
        F.sum(F.when(right, F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint").alias("r_sxx"),
        F.sum(F.when(right, F.col("x") * F.col("y")).otherwise(0))
        .cast("bigint").alias("r_sxy"),
    )
    return mom.selectExpr(
        "l_k AS n_left",
        "r_k AS n_right",
        f"{_rd_fit('l')['beta']} AS slope_left",
        f"{_rd_fit('r')['beta']} AS slope_right",
        f"{_rd_fit('l')['at_cut']} AS rate_at_cut_left",
        f"{_rd_fit('r')['at_cut']} AS rate_at_cut_right",
        f"({_rd_fit('r')['at_cut']}) - ({_rd_fit('l')['at_cut']}) AS rd_jump",
    )


# ---------------------------------------------------------------------------
# q285 — quadratic response surface: the revenue-optimal discount
# ---------------------------------------------------------------------------
# Pricing's canonical curve question: quantity responds to discount with
# curvature, and the optimum sits at the vertex. Fit qty ~ a + b·x + c·x²
# (x = discount in exact permille integers) by closed-form normal
# equations — the 3×3 system solved with Cramer determinants over exact
# moment sums S0..S4, Sy, Sxy, Sx²y (all BIGINT; x ≤ 100 keeps Σx⁴ far
# inside range). The vertex −b/(2c) is the revenue-maximizing discount.
# One scalar reduce; the algebra is a closing expression (q216 ladder,
# one degree higher).
_QRS_DETS = {
    "d": "(CAST(s0 AS DOUBLE) * (CAST(s2 AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * s3)"
         " - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * s2)"
         " + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s3 - CAST(s2 AS DOUBLE) * s2))",
    "da": "(CAST(sy AS DOUBLE) * (CAST(s2 AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * s3)"
          " - CAST(s1 AS DOUBLE) * (CAST(sxy AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * sx2y)"
          " + CAST(s2 AS DOUBLE) * (CAST(sxy AS DOUBLE) * s3 - CAST(s2 AS DOUBLE) * sx2y))",
    "db": "(CAST(s0 AS DOUBLE) * (CAST(sxy AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * sx2y)"
          " - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s4 - CAST(s3 AS DOUBLE) * s2)"
          " + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * sx2y - CAST(sxy AS DOUBLE) * s2))",
    "dc": "(CAST(s0 AS DOUBLE) * (CAST(s2 AS DOUBLE) * sx2y - CAST(sxy AS DOUBLE) * s3)"
          " - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * sx2y - CAST(sxy AS DOUBLE) * s2)"
          " + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s3 - CAST(s2 AS DOUBLE) * s2))",
}


@register(
    "q285_quadratic_response",
    tags=("pricing", "regression", "optimization"),
    oracle=f"""
        WITH pts AS (
          SELECT CAST(ROUND(l_discount * 1000) AS BIGINT) AS x,
                 CAST(ROUND(l_quantity) AS BIGINT) AS y
          FROM lineitem
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS s0,
                 CAST(SUM(x) AS BIGINT) AS s1,
                 CAST(SUM(x * x) AS BIGINT) AS s2,
                 CAST(SUM(x * x * x) AS BIGINT) AS s3,
                 CAST(SUM(x * x * x * x) AS BIGINT) AS s4,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x * y) AS BIGINT) AS sx2y
          FROM pts
        )
        SELECT s0 AS n_lines,
               {_QRS_DETS['da']} / {_QRS_DETS['d']} AS a,
               {_QRS_DETS['db']} / {_QRS_DETS['d']} AS b,
               {_QRS_DETS['dc']} / {_QRS_DETS['d']} AS c,
               -({_QRS_DETS['db']} / {_QRS_DETS['d']})
                 / (2 * ({_QRS_DETS['dc']} / {_QRS_DETS['d']}))
                 AS vertex_permille
        FROM mom
    """,
)
def q285_quadratic_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form quadratic fit of quantity vs discount (permille) with
    the vertex (optimal discount) — Cramer determinants over one exact
    moment reduce (see block comment)."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("x"),
        F.round("l_quantity").cast("bigint").alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("s0"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("bigint").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("bigint")
        .alias("s4"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x") * F.col("y")).cast("bigint").alias("sx2y"),
    )
    return mom.selectExpr(
        "s0 AS n_lines",
        f"{_QRS_DETS['da']} / {_QRS_DETS['d']} AS a",
        f"{_QRS_DETS['db']} / {_QRS_DETS['d']} AS b",
        f"{_QRS_DETS['dc']} / {_QRS_DETS['d']} AS c",
        f"-({_QRS_DETS['db']} / {_QRS_DETS['d']})"
        f" / (2 * ({_QRS_DETS['dc']} / {_QRS_DETS['d']})) AS vertex_permille",
    )


# ---------------------------------------------------------------------------
# q286 — negative-binomial fit of per-user event counts (overdispersion)
# ---------------------------------------------------------------------------
# Count data is almost never Poisson: per-user event counts overdisperse
# (σ² > μ), and the negative binomial is the workhorse model. Method-of-
# moments fit, closed form:  r = μ²/(σ²−μ),  p = μ/σ²  — valid exactly
# when the dispersion index σ²/μ exceeds 1, which the output certifies.
# One keyed reduce to per-user counts, one exact moment reduce, closing
# expressions (q216 ladder). Per event type, so the dispersion profile is
# a 5-row model card.
@register(
    "q286_negbin_fit",
    tags=("stats", "countmodel", "fit"),
    oracle="""
        WITH per_user AS (
          SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS k
          FROM events GROUP BY event_type, user_id
        ),
        mom AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(k) AS BIGINT) AS s1,
                 CAST(SUM(k * k) AS BIGINT) AS s2
          FROM per_user GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / n AS mean_count,
               (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                 / (CAST(n AS DOUBLE) * (n - 1)) AS var_count,
               ((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                 / (CAST(n AS DOUBLE) * (n - 1)))
                 / (CAST(s1 AS DOUBLE) / n) AS dispersion_index,
               CASE WHEN (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                          / (CAST(n AS DOUBLE) * (n - 1))
                         > CAST(s1 AS DOUBLE) / n
                    THEN (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                         / ((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                              / (CAST(n AS DOUBLE) * (n - 1))
                            - CAST(s1 AS DOUBLE) / n)
                    END AS nb_r,
               CASE WHEN (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                          / (CAST(n AS DOUBLE) * (n - 1))
                         > CAST(s1 AS DOUBLE) / n
                    THEN (CAST(s1 AS DOUBLE) / n)
                         / ((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                            / (CAST(n AS DOUBLE) * (n - 1)))
                    END AS nb_p
        FROM mom
    """,
)
def q286_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit (r, p) and dispersion index
    of per-user counts, per event type (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    mom = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("s2"),
    )
    mu = "CAST(s1 AS DOUBLE) / n"
    var = (
        "(CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
        " / (CAST(n AS DOUBLE) * (n - 1))"
    )
    return mom.selectExpr(
        "event_type",
        "n",
        f"{mu} AS mean_count",
        f"{var} AS var_count",
        f"({var}) / ({mu}) AS dispersion_index",
        f"CASE WHEN {var} > {mu} THEN ({mu}) * ({mu}) / (({var}) - ({mu}))"
        " END AS nb_r",
        f"CASE WHEN {var} > {mu} THEN ({mu}) / ({var}) END AS nb_p",
    )


# ---------------------------------------------------------------------------
# q287 — multiple-testing correction across per-region z-tests
# ---------------------------------------------------------------------------
# Run q120's two-proportion test once per region and the multiplicity
# problem appears: at α=0.05, 25 independent nulls yield ~1.25 false
# positives. The audit reruns the arm contrast WITHIN each region and
# flags significance at the raw threshold (|z| > 1.96) AND at the
# Bonferroni-for-m threshold — both literal normal quantiles (libm-free),
# with the family-wise expected-false-positive accounting in the output.
_MT_Z_RAW = "1.959963984540054"     # z_{0.975}
_MT_Z_BONF5 = "2.5758293035489004"  # z for alpha/2m with m=5 regions


@register(
    "q287_multiple_testing",
    tags=("experiment", "multiplicity", "stats"),
    oracle=f"""
        WITH u AS (
          SELECT e.user_id,
                 {sql_hash_bucket('e.user_id', 2)} AS arm,
                 MIN(r.r_name) AS region,
                 CASE WHEN SUM(CASE WHEN e.event_type = 'purchase'
                                    THEN 1 ELSE 0 END) >= {CONV_MIN}
                      THEN 1 ELSE 0 END AS conv
          FROM events e
          JOIN customer c ON e.user_id = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          GROUP BY e.user_id
        ),
        s AS (
          SELECT region,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
          FROM u GROUP BY region
          HAVING SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
             AND SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
             AND SUM(conv) > 0 AND SUM(conv) < COUNT(*)
        ),
        z AS (
          SELECT region, n_a, n_b, c_a, c_b,
                 (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (CAST(1 AS DOUBLE) / n_a
                           + CAST(1 AS DOUBLE) / n_b)) AS z_stat
          FROM s
        )
        SELECT region, n_a, n_b, z_stat,
               CASE WHEN abs(z_stat) > CAST({_MT_Z_RAW} AS DOUBLE)
                    THEN 1 ELSE 0 END AS sig_raw,
               CASE WHEN abs(z_stat) > CAST({_MT_Z_BONF5} AS DOUBLE)
                    THEN 1 ELSE 0 END AS sig_bonferroni
        FROM z
    """,
)
def q287_multiple_testing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region arm contrasts with raw vs Bonferroni significance flags
    (literal z thresholds — see block comment; regions with degenerate
    cells excluded identically on both sides)."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    u = (
        ev.join(c, ev.user_id == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("user_id")
        .agg(
            F.min("r_name").alias("region"),
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= CONV_MIN,
                1,
            ).otherwise(0).alias("conv"),
        )
        .select("user_id", "region", "conv", hash_bucket("user_id", 2).alias("arm"))
    )
    s = (
        u.groupBy("region")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            .cast("bigint").alias("c_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            .cast("bigint").alias("c_b"),
            F.sum("conv").alias("totc"),
            F.count(F.lit(1)).alias("totn"),
        )
        .where(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("totc") > 0)
            & (F.col("totc") < F.col("totn"))
        )
    )
    return s.selectExpr(
        "region",
        "n_a",
        "n_b",
        "(CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)"
        " / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
        "        * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
        "        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))"
        " AS z_stat",
    ).selectExpr(
        "region",
        "n_a",
        "n_b",
        "z_stat",
        f"CASE WHEN abs(z_stat) > CAST({_MT_Z_RAW} AS DOUBLE)"
        " THEN 1 ELSE 0 END AS sig_raw",
        f"CASE WHEN abs(z_stat) > CAST({_MT_Z_BONF5} AS DOUBLE)"
        " THEN 1 ELSE 0 END AS sig_bonferroni",
    )


# ---------------------------------------------------------------------------
# q288 — cohort LTV projection (geometric retention extrapolation)
# ---------------------------------------------------------------------------
# Finance wants a number for "what a signup is worth": project observed
# cohort revenue forward with geometric retention,
#     LTV = m₀ · 1 / (1 − r),   r = month-over-month revenue retention
# measured between the cohort's second and first full months (clamped to
# [0, 0.95] so a noisy small cohort can't project to infinity — the clamp
# is part of the estimator and applied identically on both sides). Per
# signup-quarter cohort: integer month keys (q248), exact cent sums, the
# projection a closing rational.
_LTV_R_CAP = 0.95


@register(
    "q288_ltv_projection",
    tags=("finance", "cohort", "projection"),
    oracle=f"""
        WITH firsts AS (
          SELECT o_custkey,
                 MIN(CAST(year(o_orderdate) * 12 + month(o_orderdate)
                          AS BIGINT)) AS m0
          FROM orders GROUP BY o_custkey
        ),
        rev AS (
          SELECT f.m0 // 3 AS cohort_q,
                 CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                      AS BIGINT) - f.m0 AS age,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents,
                 CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_cust
          FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
          GROUP BY 1, 2
        ),
        base AS (
          SELECT cohort_q,
                 CAST(SUM(CASE WHEN age = 0 THEN cents ELSE 0 END)
                      AS BIGINT) AS m0_cents,
                 CAST(SUM(CASE WHEN age = 1 THEN cents ELSE 0 END)
                      AS BIGINT) AS m1_cents,
                 CAST(MAX(CASE WHEN age = 0 THEN n_cust END) AS BIGINT)
                   AS cohort_size
          FROM rev GROUP BY cohort_q
        )
        SELECT cohort_q, cohort_size,
               CAST(m0_cents AS DOUBLE) / 100.0 AS month0_revenue,
               least(CAST(m1_cents AS DOUBLE) / m0_cents, {_LTV_R_CAP})
                 AS retention_r,
               (CAST(m0_cents AS DOUBLE) / (100.0 * cohort_size))
                 / (1 - least(CAST(m1_cents AS DOUBLE) / m0_cents,
                              {_LTV_R_CAP})) AS ltv_per_customer
        FROM base WHERE m0_cents > 0
    """,
)
def q288_ltv_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signup-quarter LTV projection from geometric revenue retention
    (clamped at {cap}; see block comment — integer month keys, exact
    cents, closing rational)."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
        ).alias("m0")
    )
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(
            F.expr("m0 div 3").alias("cohort_q"),
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast(
                    "bigint"
                )
                - F.col("m0")
            ).alias("age"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
        )
    )
    base = rev.groupBy("cohort_q").agg(
        F.sum(F.when(F.col("age") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("m0_cents"),
        F.sum(F.when(F.col("age") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("m1_cents"),
        F.max(F.when(F.col("age") == 0, F.col("n_cust")))
        .cast("bigint")
        .alias("cohort_size"),
    )
    return base.where(F.col("m0_cents") > 0).selectExpr(
        "cohort_q",
        "cohort_size",
        "CAST(m0_cents AS DOUBLE) / 100.0 AS month0_revenue",
        f"least(CAST(m1_cents AS DOUBLE) / m0_cents, {_LTV_R_CAP})"
        " AS retention_r",
        "(CAST(m0_cents AS DOUBLE) / (100.0 * cohort_size))"
        f" / (1 - least(CAST(m1_cents AS DOUBLE) / m0_cents, {_LTV_R_CAP}))"
        " AS ltv_per_customer",
    )


# ---------------------------------------------------------------------------
# q290 — fairness audit: demographic parity and equal opportunity
# ---------------------------------------------------------------------------
# Before q210's propensity score drives decisions, the fairness questions:
# does the score select each market segment at similar rates (demographic
# parity), and among the truly-active, does it find them equally often
# (equal opportunity / TPR parity)? "Selected" = top-3 score deciles
# (q210's integer-rank buckets — no float scores); outcome = last-full-
# year activity. Per segment: selection rate, TPR, and both gaps vs the
# best segment. Exact integer cells; the audit is governance-sized.
@register(
    "q290_fairness_audit",
    tags=("ml-eval", "fairness", "governance"),
    oracle=f"""
        WITH yr AS (
          SELECT CAST(MAX(EXTRACT(year FROM o_orderdate)) - 1 AS BIGINT) AS y1
          FROM orders
        ),
        actives AS (
          SELECT DISTINCT o_custkey
          FROM orders, yr
          WHERE EXTRACT(year FROM o_orderdate) = yr.y1
        ),
        ranked AS (
          SELECT c_custkey, c_mktsegment AS segment,
                 ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS r,
                 COUNT(*) OVER () - 1 AS nm1,
                 CASE WHEN c_custkey IN (SELECT o_custkey FROM actives)
                      THEN 1 ELSE 0 END AS y
          FROM customer
        ),
        flagged AS (
          SELECT segment, y,
                 CASE WHEN LEAST(r * {CAL_BUCKETS} // nm1,
                                 {CAL_BUCKETS - 1}) >= 7
                      THEN 1 ELSE 0 END AS selected
          FROM ranked
        ),
        seg AS (
          SELECT segment,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(selected) AS BIGINT) AS n_sel,
                 CAST(SUM(y) AS BIGINT) AS n_pos,
                 CAST(SUM(selected * y) AS BIGINT) AS n_sel_pos
          FROM flagged GROUP BY segment
        ),
        best AS (
          SELECT MAX(CAST(n_sel AS DOUBLE) / n) AS best_sel,
                 MAX(CAST(n_sel_pos AS DOUBLE) / n_pos) AS best_tpr
          FROM seg
        )
        SELECT s.segment, s.n, s.n_sel, s.n_pos,
               CAST(s.n_sel AS DOUBLE) / s.n AS selection_rate,
               CAST(s.n_sel_pos AS DOUBLE) / s.n_pos AS tpr,
               b.best_sel - CAST(s.n_sel AS DOUBLE) / s.n AS parity_gap,
               b.best_tpr - CAST(s.n_sel_pos AS DOUBLE) / s.n_pos
                 AS opportunity_gap
        FROM seg s CROSS JOIN best b
    """,
)
def q290_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demographic-parity and equal-opportunity gaps of the balance-rank
    selector across market segments (see block comment — integer-rank
    selection, exact cells, gaps vs the best-served segment)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    yr = o.agg((F.max(F.year("o_orderdate")) - 1).cast("bigint").alias("y1"))
    actives = (
        o.crossJoin(F.broadcast(yr))
        .where(F.year("o_orderdate") == F.col("y1"))
        .select("o_custkey")
        .distinct()
    )
    wrank = W.orderBy("c_acctbal", "c_custkey")
    ranked = (
        c.join(actives, c.c_custkey == actives.o_custkey, "left")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            "c_acctbal",
            F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("y"),
        )
        .select(
            "segment",
            "y",
            (F.row_number().over(wrank) - 1).alias("r"),
            (F.count(F.lit(1)).over(W.partitionBy()) - 1).alias("nm1"),
        )
    )
    flagged = ranked.selectExpr(
        "segment",
        "y",
        f"CASE WHEN LEAST(r * {CAL_BUCKETS} div nm1, {CAL_BUCKETS - 1}) >= 7"
        " THEN 1 ELSE 0 END AS selected",
    )
    # lazy cut: the best-rate probe and the readout both consume the
    # 5-row segment table (4 fact scans/plan uncut)
    seg = flagged.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("selected").cast("bigint").alias("n_sel"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(F.col("selected") * F.col("y")).cast("bigint").alias("n_sel_pos"),
    ).localCheckpoint(eager=False)
    best = seg.agg(
        F.max(F.col("n_sel").cast("double") / F.col("n")).alias("best_sel"),
        F.max(F.col("n_sel_pos").cast("double") / F.col("n_pos")).alias(
            "best_tpr"
        ),
    )
    return seg.crossJoin(F.broadcast(best)).selectExpr(
        "segment",
        "n",
        "n_sel",
        "n_pos",
        "CAST(n_sel AS DOUBLE) / n AS selection_rate",
        "CAST(n_sel_pos AS DOUBLE) / n_pos AS tpr",
        "best_sel - CAST(n_sel AS DOUBLE) / n AS parity_gap",
        "best_tpr - CAST(n_sel_pos AS DOUBLE) / n_pos AS opportunity_gap",
    )


# ---------------------------------------------------------------------------
# q297 — mean-excess function: how heavy is the revenue tail?
# ---------------------------------------------------------------------------
# Extreme-value triage without distribution fitting: the mean excess
#     e(u) = E[X − u | X > u]
# read at rising thresholds. Rising e(u) ⇒ heavy (Pareto-ish) tail —
# capacity planning and fraud limits hang off this shape. Thresholds are
# the exact p90/p95/p99 of order value (scalar broadcast); each excess
# mean is a conditional exact-integer sum. The classic mean-excess-plot
# points, as a 3-row relation.
@register(
    "q297_mean_excess",
    tags=("stats", "evt", "tail"),
    oracle="""
        WITH v AS (
          SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
        ),
        th AS (
          SELECT quantile_cont(c, 0.90) AS u90,
                 quantile_cont(c, 0.95) AS u95,
                 quantile_cont(c, 0.99) AS u99
          FROM v
        ),
        pts AS (
          -- CAST: a bare 0.90 literal is DECIMAL(3,2) in DuckDB and would
          -- surface as '0.90' vs Spark's DOUBLE '0.9' (literal-type trap)
          SELECT CAST(0.90 AS DOUBLE) AS tau, u90 AS u FROM th
          UNION ALL SELECT CAST(0.95 AS DOUBLE), u95 FROM th
          UNION ALL SELECT CAST(0.99 AS DOUBLE), u99 FROM th
        )
        SELECT p.tau, p.u / 100.0 AS threshold,
               CAST(COUNT(CASE WHEN v.c > p.u THEN 1 END) AS BIGINT)
                 AS n_exceed,
               CAST(SUM(CASE WHEN v.c > p.u
                             THEN CAST(ROUND(v.c - p.u) AS BIGINT)
                             ELSE 0 END) AS DOUBLE)
                 / (100.0 * COUNT(CASE WHEN v.c > p.u THEN 1 END))
                 AS mean_excess
        FROM v CROSS JOIN pts p
        GROUP BY p.tau, p.u
    """,
)
def q297_mean_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean excess of order value over its p90/p95/p99 thresholds — the
    tail-heaviness diagnostic (see block comment — scalar thresholds,
    conditional exact sums)."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"))
    # tail thresholds via the blocked-rank distributed selection: the
    # builtin's buffer held every order's cents — bit-identical, bounded
    # Raw-row ranking (r10, probe reproduces r8): order totals in
    # cents are near-unique — rank raw rows, one shuffle instead of a
    # no-op distinct-count reduce
    th = distributed_quantiles(v, "c", [0.9, 0.95, 0.99], probe_key=f"q297:{sf_dir}")
    pts = th.selectExpr(
        "stack(3, CAST(0.90 AS DOUBLE), c[0], CAST(0.95 AS DOUBLE), c[1],"
        " CAST(0.99 AS DOUBLE), c[2]) AS (tau, u)"
    )
    return (
        v.crossJoin(F.broadcast(pts))
        .groupBy("tau", "u")
        .agg(
            F.count(F.when(F.col("c") > F.col("u"), 1))
            .cast("bigint")
            .alias("n_exceed"),
            (
                F.sum(
                    F.when(
                        F.col("c") > F.col("u"),
                        F.expr("CAST(ROUND(c - u) AS BIGINT)"),
                    ).otherwise(0)
                ).cast("double")
                / (100.0 * F.count(F.when(F.col("c") > F.col("u"), 1)))
            ).alias("mean_excess"),
        )
        .selectExpr("tau", "u / 100.0 AS threshold", "n_exceed", "mean_excess")
    )


# ---------------------------------------------------------------------------
# q298 — reciprocal best match: mutual top partners (entity linking core)
# ---------------------------------------------------------------------------
# The mutual-nearest-neighbor rule that anchors entity linking and
# bioinformatics orthology alike: pair (customer, supplier) is a
# reciprocal best match when each is the other's highest-volume partner.
# Both argmaxes use a collision-free fixed-width string key (volume
# dominates lexicographically, smaller partner id wins ties via the
# complemented second field). The previous packed-BIGINT key
# (v * 1e6 + (999999 - id % 1e6)) wrapped for ids >= 1e6 — at TPC-H
# SF >= 7 custkey exceeds that, inverting the tie-break and letting
# distinct partners collide (r4 ADVICE). The string key is exact for
# any id < 1e13 and any volume < 1e19. The reciprocal join is
# key-equality on the two tiny argmax relations.
_Q298_KEY_SK = (
    "lpad(cast(v as string), 19, '0') || "
    "lpad(cast(10000000000000 - sk as string), 14, '0')"
)
_Q298_KEY_CK = (
    "lpad(cast(v as string), 19, '0') || "
    "lpad(cast(10000000000000 - ck as string), 14, '0')"
)


@register(
    "q298_reciprocal_best",
    tags=("entity", "matching", "join"),
    oracle=f"""
        WITH vol AS (
          SELECT o.o_custkey AS ck, l.l_suppkey AS sk,
                 CAST(COUNT(*) AS BIGINT) AS v
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY 1, 2
        ),
        best_c AS (
          SELECT ck, max_by(sk, {_Q298_KEY_SK}) AS best_sk,
                 CAST(MAX(v) AS BIGINT) AS v_c
          FROM vol GROUP BY ck
        ),
        best_s AS (
          SELECT sk, max_by(ck, {_Q298_KEY_CK}) AS best_ck,
                 CAST(MAX(v) AS BIGINT) AS v_s
          FROM vol GROUP BY sk
        )
        SELECT c.ck AS custkey, c.best_sk AS suppkey, c.v_c AS n_lines
        FROM best_c c JOIN best_s s
          ON c.best_sk = s.sk AND s.best_ck = c.ck
    """,
)
def q298_reciprocal_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-supplier pairs that are each other's top trading partner —
    mutual argmax with collision-free string tie-break keys (see block
    comment)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    vol = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
        # lazy cut (r16): best_c and best_s both consume this relation —
        # uncut, each re-derived the fact join + (ck, sk) aggregate
        # (profile: two identical 0.77s scan stages + two 6.5 MB
        # exchanges); integer counts, bit-neutral
        .localCheckpoint(eager=False)
    )
    best_c = vol.groupBy("ck").agg(
        # r16: struct(v, -sk) orders exactly like the oracle's padded
        # string key (max v, then min sk) without building a 33-char
        # string per row — bigint struct comparison, no overflow at any
        # scale. Oracle SQL keeps the string form.
        F.expr("max_by(sk, struct(v, -sk))").alias("best_sk"),
        F.max("v").cast("bigint").alias("v_c"),
    )
    best_s = vol.groupBy("sk").agg(
        F.expr("max_by(ck, struct(v, -ck))").alias("best_ck"),
        F.max("v").cast("bigint").alias("v_s"),
    )
    return (
        best_c.join(
            best_s,
            (best_c.best_sk == best_s.sk) & (best_s.best_ck == best_c.ck),
        )
        .selectExpr("ck AS custkey", "best_sk AS suppkey", "v_c AS n_lines")
    )


# ---------------------------------------------------------------------------
# q305 — group-sequential interim looks (Pocock boundary)
# ---------------------------------------------------------------------------
# Peeking at an experiment three times at α=0.05 inflates false positives
# past 11%; group-sequential designs fix the boundary per look. This
# simulates the three planned looks (accrual = user_id mod 3 < k, a
# deterministic stand-in for arrival order), computes q120's z at each,
# and flags significance at the naive 1.96 AND at Pocock's K=3 critical
# value 2.289 — both literal quantiles. The readout shows exactly which
# looks a naive monitor would have (wrongly) stopped at.
_POCOCK_K3 = "2.289"  # two-sided alpha=0.05, K=3 equal looks (Pocock 1977)


@register(
    "q305_interim_looks",
    tags=("experiment", "sequential", "stats"),
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 {sql_hash_bucket('user_id', 2)} AS arm,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) >= {CONV_MIN}
                      THEN 1 ELSE 0 END AS conv
          FROM events GROUP BY user_id
        ),
        looks AS (SELECT unnest(range(1, 4)) AS look),
        cells AS (
          SELECT l.look,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
          FROM looks l JOIN u ON u.user_id % 3 < l.look
          GROUP BY l.look
        )
        SELECT CAST(look AS BIGINT) AS look, n_a + n_b AS n_users,
               (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
               / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                      * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
                 AS z_stat,
               CASE WHEN abs((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                           * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                           * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)))
                    > 1.959963984540054 THEN 1 ELSE 0 END AS sig_naive,
               CASE WHEN abs((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                           * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                           * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)))
                    > {_POCOCK_K3} THEN 1 ELSE 0 END AS sig_pocock
        FROM cells
    """,
)
def q305_interim_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """z at three deterministic interim looks with naive vs Pocock
    significance flags (literal boundaries — see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= CONV_MIN,
            1,
        ).otherwise(0).alias("conv")
    ).select("user_id", hash_bucket("user_id", 2).alias("arm"), "conv")
    looks = spark.range(1, 4).select(F.col("id").alias("look"))
    cells = (
        F.broadcast(looks)
        .join(u, F.col("user_id") % 3 < F.col("look"))
        .groupBy("look")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            .cast("bigint").alias("c_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            .cast("bigint").alias("c_b"),
        )
    )
    zexpr = (
        "(CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)"
        " / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
        "        * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
        "        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))"
    )
    return cells.selectExpr(
        "CAST(look AS BIGINT) AS look",
        "n_a + n_b AS n_users",
        f"{zexpr} AS z_stat",
        f"CASE WHEN abs({zexpr}) > 1.959963984540054 THEN 1 ELSE 0 END"
        " AS sig_naive",
        f"CASE WHEN abs({zexpr}) > {_POCOCK_K3} THEN 1 ELSE 0 END"
        " AS sig_pocock",
    )
