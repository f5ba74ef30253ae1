"""Relational core operators (SURVEY.md §2.9 / M1).

Scan/project/filter, equi- and broadcast joins, semi/anti joins, hash
aggregates (incl. distinct), rollup/cube/grouping sets, window functions
(ranking, lag/lead, frames), sort/limit/top-k, set operations, pivot, and
the scalar function pack (string/date/math/JSON).

Scale notes (100 TB posture):
- Dimension joins (`region`, `nation`, small `supplier`/`part` slices) are
  explicitly `broadcast()` — no shuffle of the fact table.
- Fact-fact joins (lineitem⋈orders) shuffle on the join key; AQE handles
  skew splitting and partition coalescing at runtime.
- Aggregations are expressed declaratively so Catalyst plans partial
  (map-side) aggregation before the exchange.
- Filters/projections sit directly on the parquet scan → predicate pushdown
  + column pruning (verified via .explain in tests/test_plans.py).
- Float aggregates go through exact DECIMAL casts (functions/numeric.py) so
  results are order-independent — required both for the DuckDB oracle hash
  and for run-to-run determinism on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from docling_api_spark.functions.numeric import DEC, davg, dsum, sql_davg, sql_dsum
from docling_api_spark.functions.quantiles import (
    distributed_grouped_quantiles,
    distributed_quantiles,
)
from docling_api_spark.plans.registry import register
from docling_api_spark.tables import load_table


# ---------------------------------------------------------------------------
# q01 — flagship: TPC-H Q1-style pricing summary (scan → filter → hash agg)
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    tags=("agg", "scan", "filter"),
    bench=True,
    oracle=f"""
        SELECT
          l_returnflag,
          l_linestatus,
          {sql_dsum('l_quantity', 'sum_qty')},
          {sql_dsum('l_extendedprice', 'sum_base_price')},
          {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
          {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
          {sql_davg('l_quantity', 'avg_qty')},
          {sql_davg('l_extendedprice', 'avg_price')},
          {sql_davg('l_discount', 'avg_disc')},
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: filter on ship date, 8-way aggregate by flag/status.

    One scan, map-side partial agg, single shuffle on the (low-cardinality)
    group keys — the canonical Catalyst hash-aggregate plan.
    """
    # spread_key: ×1.41 at local[4], ×1.49 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q02 — scan / project / filter with pushdown
# ---------------------------------------------------------------------------
@register(
    "q02_filter_project",
    tags=("scan", "filter", "project"),
    oracle="""
        SELECT
          p_partkey,
          p_name,
          p_brand,
          p_retailprice,
          CAST(p_size * 2 AS INTEGER) AS double_size
        FROM part
        WHERE p_size BETWEEN 10 AND 30 AND p_retailprice > 950.0 AND p_type = 'PROMO'
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conjunctive filter; predicates and columns push to the scan."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        (F.col("p_size").between(10, 30))
        & (F.col("p_retailprice") > 950.0)
        & (F.col("p_type") == "PROMO")
    ).select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_retailprice",
        (F.col("p_size") * 2).cast("int").alias("double_size"),
    )


# ---------------------------------------------------------------------------
# q03 — broadcast dimension joins (customer ⋈ nation ⋈ region)
# ---------------------------------------------------------------------------
@register(
    "q03_broadcast_dim_join",
    tags=("join", "broadcast", "agg"),
    bench=True,
    oracle=f"""
        SELECT
          r_name,
          n_name,
          COUNT(*) AS n_customers,
          {sql_dsum('c_acctbal', 'total_acctbal')}
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
)
def q03_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup: fact joined to two broadcast dims — zero fact shuffle
    for the joins; the only exchange is the final group-by."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "total_acctbal"))
    )


# ---------------------------------------------------------------------------
# q04 — multiway fact join (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region)
# ---------------------------------------------------------------------------
@register(
    "q04_multiway_join_revenue",
    tags=("join", "agg"),
    bench=True,
    oracle=f"""
        SELECT
          r_name,
          n_name,
          {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
          COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY r_name, n_name
    """,
)
def q04_multiway_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation (TPC-H Q5 shape): one shuffle join between the
    two fact tables (lineitem⋈orders, AQE-managed), then broadcast dims."""
    # spread_key: ×1.17 at local[4], ×1.09 at local[8] (SCALING.md "Knob sites": headliner bound)
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q05 / q06 — semi and anti joins
# ---------------------------------------------------------------------------
@register(
    "q05_semi_join",
    tags=("join", "semi"),
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_custkey IN (
          SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 300000.0
        )
    """,
)
def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one large finished order (LEFT SEMI — EXISTS)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000.0)
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "q06_anti_join",
    tags=("join", "anti"),
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
        )
    """,
)
def q06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no very large order (LEFT ANTI — NOT EXISTS)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# q07 — outer join with null handling
# ---------------------------------------------------------------------------
@register(
    "q07_outer_join",
    tags=("join", "outer", "agg"),
    oracle=f"""
        SELECT
          c_custkey,
          COUNT(o_orderkey) AS n_orders,
          {sql_dsum('COALESCE(o_totalprice, 0.0)', 'spend')}
        FROM customer
        LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderstatus = 'O'
        GROUP BY c_custkey
    """,
)
def q07_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers; COUNT skips nulls."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "spend"),
        )
    )


# ---------------------------------------------------------------------------
# q28/q29 — TPC-H-shaped pipeline queries (join → agg → top-k)
# ---------------------------------------------------------------------------
@register(
    "q28_shipping_priority",
    tags=("join", "agg", "topk"),
    bench=True,
    oracle=f"""
        SELECT
          l_orderkey,
          {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
          strftime(o_orderdate, '%Y-%m-%d') AS order_date,
          o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def q28_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both fact sides, 3-way join,
    revenue agg, global top-10 (TakeOrderedAndProject after the agg)."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q29_large_orders",
    tags=("join", "agg", "having", "semi"),
    bench=True,
    oracle=f"""
        SELECT
          c_name,
          c_custkey,
          o_orderkey,
          strftime(o_orderdate, '%Y-%m-%d') AS order_date,
          o_totalprice,
          {sql_dsum('l_quantity', 'total_qty')}
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 150.0
        )
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q29_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered per-order aggregate joined to the
    order/customer detail. The output's group key contains o_orderkey, so
    the post-semi-join re-aggregation the textbook plan runs is the SAME
    per-order sum the HAVING already computed — one lineitem pass with
    the exact-decimal sum kept as total_qty replaces the r4 plan's second
    scan + second group-by (the semi join disappears with it). At 100 TB
    that halves the fact work; the qualifying-orders relation joining
    orders is heavy-hitter-sized, and customer broadcasts."""
    # spread_key: ×1.55 at local[4], ×1.25 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
        .filter(F.col("q") > 150.0)
        .select("l_orderkey", F.col("q").cast("double").alias("total_qty"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# q10 — aggregate with DISTINCT
# ---------------------------------------------------------------------------
@register(
    "q10_agg_distinct",
    tags=("agg", "distinct"),
    oracle=f"""
        SELECT
          o_orderstatus,
          COUNT(*) AS n_orders,
          COUNT(DISTINCT o_custkey) AS n_customers,
          {sql_dsum('o_totalprice', 'total_price')},
          MIN(o_totalprice) AS min_price,
          MAX(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def q10_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with a DISTINCT sub-aggregate (expands to two-phase plan)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        dsum("o_totalprice", "total_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# q11/q12/q13 — rollup / cube / grouping sets
# ---------------------------------------------------------------------------
@register(
    "q11_rollup",
    tags=("agg", "rollup"),
    oracle=f"""
        SELECT
          o_orderstatus,
          o_orderpriority,
          COUNT(*) AS n_orders,
          {sql_dsum('o_totalprice', 'total_price')}
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (status, priority), (status), ()."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price")
    )


@register(
    "q12_cube",
    tags=("agg", "cube"),
    oracle=f"""
        SELECT
          l_returnflag,
          l_linestatus,
          COUNT(*) AS n_items,
          {sql_dsum('l_quantity', 'total_qty')}
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations of (returnflag, linestatus)."""
    # spread_key: ×1.27 at local[4], ×1.59 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"), dsum("l_quantity", "total_qty")
    )


@register(
    "q13_grouping_sets",
    tags=("agg", "grouping_sets"),
    oracle=f"""
        SELECT
          c_mktsegment,
          c_nationkey,
          COUNT(*) AS n_customers,
          {sql_dsum('c_acctbal', 'total_acctbal')}
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
    """,
)
def q13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via Spark SQL over a temp view."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        f"""
        SELECT
          c_mktsegment,
          c_nationkey,
          COUNT(*) AS n_customers,
          {sql_dsum('c_acctbal', 'total_acctbal')}
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
        """
    )


# ---------------------------------------------------------------------------
# q14/q15/q16 — window functions
# ---------------------------------------------------------------------------
@register(
    "q14_window_topk_per_group",
    tags=("window", "topk"),
    bench=True,
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice, rn, rnk, drnk
        FROM (
          SELECT
            p_brand, p_partkey, p_retailprice,
            ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn,
            RANK()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
            DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
          FROM part
        ) t
        WHERE rn <= 3
    """,
)
def q14_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand: ranking window trio with deterministic tiebreak."""
    part = load_table(spark, sf_dir, "part")
    w_rn = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    w_rk = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w_rn).alias("rn"),
            F.rank().over(w_rk).alias("rnk"),
            F.dense_rank().over(w_rk).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q15_window_lag_lead",
    tags=("window", "analytic"),
    oracle="""
        SELECT
          event_id,
          user_id,
          value,
          LAG(value)  OVER w AS prev_value,
          LEAD(value) OVER w AS next_value,
          value - COALESCE(LAG(value) OVER w, 0.0) AS delta
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q15_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user previous/next event values (analytic lag/lead)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0))).alias("delta"),
    )


@register(
    "q16_window_frames",
    tags=("window", "frames"),
    oracle="""
        SELECT
          event_id,
          user_id,
          CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) AS DOUBLE) AS running_sum,
          CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
          ) AS DOUBLE) AS moving_sum_4,
          COUNT(*) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
          ) AS moving_n
        FROM events
    """,
)
def q16_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running and moving-frame aggregates per user (exact decimal sums)."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(28,6)")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(dec).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_sum"),
        F.sum(dec).over(w.rowsBetween(-3, W.currentRow)).cast("double").alias("moving_sum_4"),
        F.count(F.lit(1)).over(w.rowsBetween(-3, W.currentRow)).alias("moving_n"),
    )


# ---------------------------------------------------------------------------
# q17 — sort / limit / top-k
# ---------------------------------------------------------------------------
@register(
    "q17_topk_global",
    tags=("sort", "limit", "topk"),
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 10
    """,
)
def q17_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 (TakeOrderedAndProject — no full sort at scale)."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q18 — set operations
# ---------------------------------------------------------------------------
@register(
    "q18_set_ops",
    tags=("setop",),
    oracle="""
        WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
             sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        SELECT 'both' AS membership, nationkey
          FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
        UNION ALL
        SELECT 'customer_only' AS membership, nationkey
          FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
        UNION ALL
        SELECT 'supplier_only' AS membership, nationkey
          FROM (SELECT nationkey FROM sn EXCEPT SELECT nationkey FROM cn)
    """,
)
def q18_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over nation-key memberships."""
    cn = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    both = cn.intersect(sn).select(F.lit("both").alias("membership"), "nationkey")
    c_only = cn.exceptAll(sn).select(F.lit("customer_only").alias("membership"), "nationkey")
    s_only = sn.exceptAll(cn).select(F.lit("supplier_only").alias("membership"), "nationkey")
    return both.unionByName(c_only).unionByName(s_only)


# ---------------------------------------------------------------------------
# q19 — pivot
# ---------------------------------------------------------------------------
@register(
    "q19_pivot",
    tags=("pivot", "agg"),
    oracle=f"""
        SELECT
          l_returnflag,
          {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_open')},
          {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_finished')}
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q19_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot line status into columns (sum of quantity per return flag)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_finished")
    )


# ---------------------------------------------------------------------------
# q20/q21/q22 — scalar function packs (string / date / math+JSON)
# ---------------------------------------------------------------------------
@register(
    "q20_string_funcs",
    tags=("scalar", "string"),
    oracle="""
        SELECT
          p_partkey,
          lower(p_name)                                   AS name_lower,
          upper(p_brand)                                  AS brand_upper,
          substr(p_name, 1, 4)                            AS name_prefix,
          CAST(length(p_name) AS INTEGER)                 AS name_len,
          concat_ws('|', p_brand, p_type)                 AS brand_type,
          replace(p_name, ' ', '_')                       AS name_snake,
          trim(p_type)                                    AS type_trim,
          lpad(CAST(p_partkey AS VARCHAR), 8, '0')        AS key_padded,
          reverse(p_brand)                                AS brand_rev,
          regexp_extract(p_name, '([a-z]+)$', 1)          AS last_word,
          (p_name LIKE '%bolt%')                          AS is_bolt
        FROM part
        WHERE p_partkey < 100
    """,
)
def q20_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function pack: case, substring, pad, regex, concat, predicate."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.trim(F.col("p_type")).alias("type_trim"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.col("p_name").like("%bolt%").alias("is_bolt"),
    )


@register(
    "q21_date_funcs",
    tags=("scalar", "date"),
    oracle="""
        SELECT
          o_orderkey,
          strftime(o_orderdate, '%Y-%m-%d')                           AS order_date,
          CAST(year(o_orderdate) AS INTEGER)                          AS order_year,
          CAST(month(o_orderdate) AS INTEGER)                         AS order_month,
          CAST(dayofmonth(o_orderdate) AS INTEGER)                    AS order_day,
          CAST(quarter(o_orderdate) AS INTEGER)                       AS order_quarter,
          strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')      AS month_start,
          CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS BIGINT)
                                                                      AS days_to_y2k,
          strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')         AS due_date
        FROM orders
        WHERE o_orderkey < 500
    """,
)
def q21_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function pack (timestamps emitted as formatted strings)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("days_to_y2k"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("due_date"),
    )


@register(
    "q22_math_json_funcs",
    tags=("scalar", "math", "json"),
    oracle="""
        SELECT
          event_id,
          abs(value - 100.0)                               AS dist_from_100,
          CAST(floor(value) AS BIGINT)                     AS value_floor,
          CAST(ceil(value) AS BIGINT)                      AS value_ceil,
          sqrt(abs(value))                                 AS value_sqrt,
          value * value                                    AS value_sq,
          CAST(event_id % 7 AS BIGINT)                     AS id_mod7,
          greatest(value, 50.0)                            AS val_hi,
          least(value, 50.0)                               AS val_lo,
          CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        FROM events
        WHERE event_id < 1000
    """,
)
def q22_math_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math + JSON extraction pack (IEEE-exact ops only, for oracle parity)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        F.abs(F.col("value") - 100.0).alias("dist_from_100"),
        F.floor("value").alias("value_floor"),
        F.ceil("value").alias("value_ceil"),
        F.sqrt(F.abs(F.col("value"))).alias("value_sqrt"),
        (F.col("value") * F.col("value")).alias("value_sq"),
        (F.col("event_id") % 7).cast("bigint").alias("id_mod7"),
        F.greatest(F.col("value"), F.lit(50.0)).alias("val_hi"),
        F.least(F.col("value"), F.lit(50.0)).alias("val_lo"),
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# q23 — approximate aggregates (rows-only: sketches differ across engines)
# ---------------------------------------------------------------------------
@register("q23_approx_aggs", tags=("agg", "approx"))
def q23_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct + approximate percentiles per event type.

    No oracle: sketch results are engine-specific by design (driver applies
    the rows-only check). At 100 TB these replace exact DISTINCT/percentile
    whose state would not fit: HLL state is O(kB) per group regardless of
    cardinality.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("p50_value"),
        F.percentile_approx("value", 0.95).alias("p95_value"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q24 — exact percentiles (interpolated, oracle-checkable)
# ---------------------------------------------------------------------------
@register(
    "q24_percentiles_exact",
    tags=("agg", "percentile"),
    oracle="""
        SELECT
          event_type,
          MIN(value) AS min_v,
          quantile_cont(value, 0.5) AS median_v,
          MAX(value) AS max_v
        FROM events
        GROUP BY event_type
    """,
)
def q24_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (≡ DuckDB quantile_cont).

    Since round 5 the median comes from the blocked-rank distributed
    selection (`functions/quantiles.py`) rather than the builtin
    `percentile` aggregate, whose per-group buffer holds every value of
    the group — with ~5 event types that is a fifth of the fact table
    per buffer. Bit-identical results (helper unit tests + this oracle).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # The distinct-ratio probe (r10) picks the ranking branch
    # from the data — at sf0.1 it measures ~0.46 min per-type ratio and
    # reproduces the r9 A/B call (rank raw rows straight off the parquet
    # scan, one shuffle: 1.65s vs 1.95s end-to-end, best-of-3); at a
    # scale where the value domain saturates it flips to the
    # cardinality pre-reduce on its own
    med = distributed_grouped_quantiles(
        ev, ["event_type"], "value", [0.5], probe_key=f"q24:{sf_dir}",
    ).select("event_type", F.col("c")[0].alias("median_v"))
    return (
        ev.groupBy("event_type")
        .agg(F.min("value").alias("min_v"), F.max("value").alias("max_v"))
        .join(F.broadcast(med), "event_type")
        .select("event_type", "min_v", "median_v", "max_v")
    )


# ---------------------------------------------------------------------------
# q108 — bloom-filter pre-filtered semi join (JVM-side bloom, no shuffle probe)
# ---------------------------------------------------------------------------
_BLOOM_BITS = 1 << 20  # m: filter width in bits
_BLOOM_WORDS = _BLOOM_BITS >> 6
_BLOOM_SEEDS = (1, 2, 3)  # k hash functions


def _bloom_words(build: DataFrame, key: str) -> DataFrame:
    """Aggregate a key column into a bloom filter, represented as ONE row
    holding a word_idx → 64-bit-word map (only set words are stored).

    Spark's own bloom_filter_agg is not exposed to SQL/Python in this
    build, so the filter is assembled from public primitives: 3 seeded
    xxhash64 positions per key → (word, bit) pairs → bit_or per word →
    map_from_entries. Everything stays JVM-side and codegen-friendly.
    """
    # cast to bigint: xxhash64 is TYPE-sensitive, so an int build key vs a
    # bigint probe key would set/probe different bits → silent false
    # NEGATIVES the exact join can't recover. Pinning both sides to bigint
    # makes the invariant hold regardless of source column width.
    pos = build.select(
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"pmod(xxhash64({s}L, cast({key} as bigint)), {_BLOOM_BITS})"
                    )
                    for s in _BLOOM_SEEDS
                ]
            )
        ).alias("pos")
    )
    words = pos.groupBy(F.expr("pos div 64").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, cast(pos % 64 AS int)))").alias("bits")
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bloom")
    )


def _bloom_pass(key: str, bloom: str) -> F.Column:
    """True iff `key` MIGHT be in the filter (all k bits set). Built as a
    SQL expression over column NAMES (shiftleft's amount must be a column
    here, which the Python API doesn't accept)."""
    checks = []
    for s in _BLOOM_SEEDS:
        pos = f"pmod(xxhash64({s}L, cast({key} as bigint)), {_BLOOM_BITS})"
        word = f"coalesce(element_at({bloom}, ({pos}) div 64), 0L)"
        mask = f"shiftleft(1L, cast(({pos}) % 64 AS int))"
        checks.append(f"((({word}) & ({mask})) != 0)")
    return F.expr(" AND ".join(checks))


@register(
    "q108_bloom_semi_join",
    tags=("join", "bloom", "prefilter"),
    bench=True,
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_custkey IN (
          SELECT c_custkey FROM customer
          WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
        )
    """,
)
def q108_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with a bloom-filter pre-pass: orders of high-balance
    BUILDING-segment customers.

    Plan shape: (1) build side reduced to distinct keys and folded into a
    ~128 KB word-map bloom — constant size no matter how many keys, which
    is the whole point: at 100 TB the build side's key set may be too big
    to broadcast raw, but the bloom always fits. (2) The probe scan
    cross-joins the single bloom row (broadcast nested loop over ONE row =
    a map-side lookup) and drops non-matching orders before anything
    shuffles. (3) Survivors — true matches plus the bloom's ~0.1% false
    positives — go through the exact semi join, so the result is exact.
    The oracle is the plain semi join. Runtime-filter conf
    (spark.sql.optimizer.runtime.bloomFilter.*) does this transparently
    for supported shapes; this operator is the explicit, plannable form.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    build = (
        cust.where((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0))
        .select("c_custkey")
        .distinct()
    )

    bloom = _bloom_words(build, "c_custkey")
    prefiltered = (
        orders.join(F.broadcast(bloom))  # single-row cross join = map-side lookup
        .where(_bloom_pass("o_custkey", "bloom"))
        .drop("bloom")
    )
    return prefiltered.join(
        F.broadcast(build), prefiltered.o_custkey == build.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# q114 — winsorized (percentile-clamped) robust aggregation per group
# ---------------------------------------------------------------------------
@register(
    "q114_winsorized_agg",
    tags=("agg", "robust", "percentile"),
    oracle=f"""
        WITH pb AS (
          SELECT p.p_brand, l.l_extendedprice AS x
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        cuts AS (
          SELECT p_brand,
                 quantile_cont(x, 0.05) AS p05,
                 quantile_cont(x, 0.95) AS p95
          FROM pb GROUP BY p_brand
        )
        SELECT
          pb.p_brand,
          COUNT(*) AS n,
          {sql_dsum('LEAST(GREATEST(pb.x, c.p05), c.p95)', 'winsorized_revenue')},
          CAST(SUM(CASE WHEN pb.x < c.p05 OR pb.x > c.p95 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clamped
        FROM pb JOIN cuts c ON pb.p_brand = c.p_brand
        GROUP BY pb.p_brand
    """,
)
def q114_winsorized_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized revenue per brand: clamp each price into the brand's
    [p5, p95] band before summing — the robust-statistics aggregate that
    keeps a fat-tailed 100 TB corpus from being dominated by outliers.

    Two passes over the joined relation: exact per-brand percentiles
    (tiny result — one row per brand), broadcast back onto the fact rows,
    clamp, DECIMAL-exact sum. The clamp is pure comparison/selection of
    existing doubles, so both engines see bit-identical values; only the
    interpolated cut points involve arithmetic, and Spark `percentile` ≡
    DuckDB `quantile_cont` (same linear interpolation).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pb = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand", F.col("l_extendedprice").alias("x")
    )
    # per-brand cuts via the blocked-rank distributed selection: the
    # builtin's per-brand buffer held every price of the brand (1/25th of
    # the fact table each) — bit-identical, bounded memory.
    # Raw-row ranking (r10): the probe measures ~0.94 min per-brand
    # distinct ratio at sf0.1 and reproduces the r9 call — prices are
    # near-unique, so the distinct-count pre-reduce was a full-table
    # shuffle for a 3% reduction; raw-row ranking measured 2.39s vs
    # 3.04s end-to-end at sf0.1 (best-of-3)
    cuts = distributed_grouped_quantiles(
        pb, ["p_brand"], "x", [0.05, 0.95], probe_key=f"q114:{sf_dir}",
    ).select(
        "p_brand",
        F.col("c")[0].alias("p05"),
        F.col("c")[1].alias("p95"),
    )
    clamped = pb.join(F.broadcast(cuts), "p_brand").select(
        "p_brand",
        "x",
        F.least(F.greatest(F.col("x"), F.col("p05")), F.col("p95")).alias("cx"),
        ((F.col("x") < F.col("p05")) | (F.col("x") > F.col("p95")))
        .cast("long")
        .alias("clamped"),
    )
    return clamped.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("cx", "winsorized_revenue"),
        F.sum("clamped").alias("n_clamped"),
    )


# ---------------------------------------------------------------------------
# q118 — exact equi-depth histogram WITHOUT a global sort
# ---------------------------------------------------------------------------
_EQD_BUCKETS = 16


def _bucket_assign(col: str) -> F.Column:
    """bucket_id = 1 + #cuts below the value, over the broadcast 15-element
    cut array `c` — as a SUM OF 15 SCALAR COMPARISONS, not
    `size(filter(c, v -> x > v))`: higher-order array functions run
    interpreted (no whole-stage codegen) and allocate a result array per
    row, pure waste on the bucket-assignment pass's every-row hot path.
    Same count, bit-identical bucket ids (r15, guide §4.1)."""
    x = F.col(col)
    n = F.lit(1)
    for i in range(1, _EQD_BUCKETS):
        n = n + F.when(x > F.element_at("c", i), 1).otherwise(0)
    return n.cast("int")


@register(
    "q118_equidepth_histogram",
    bench=True,
    tags=("agg", "histogram", "percentile"),
    oracle=f"""
        WITH cuts AS (
          SELECT quantile_cont(l_extendedprice,
                   [x / {_EQD_BUCKETS}.0 FOR x IN range(1, {_EQD_BUCKETS})]) AS c
          FROM lineitem
        )
        SELECT
          CAST(1 + len(list_filter(c.c, v -> l.l_extendedprice > v)) AS INTEGER)
            AS bucket_id,
          COUNT(*) AS n,
          MIN(l.l_extendedprice) AS min_x,
          MAX(l.l_extendedprice) AS max_x
        FROM lineitem l, cuts c
        GROUP BY 1
    """,
)
def q118_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of lineitem prices in
    {_EQD_BUCKETS} buckets.

    The textbook formulation — ntile() over a global ORDER BY — plans as a
    single-partition WindowExec: the round-1 scale-killer class. And the
    obvious fix — one exact `percentile(col, array(...))` aggregate —
    buffers EVERY value in a single final aggregation buffer (fine at
    sf0.1, the dominant cost in this query's 4.2s bench median, fatal at
    100 TB). Instead the exact cut points come from a fully distributed
    selection (`functions/quantiles.py::distributed_quantiles`, reusable
    for every operator still paying the buffer), the same blocked-ranking
    idiom as q302:

      1. rank RAW rows straight into value-range blocks
         (r8; the probe picks it since r10): prices are ~97% unique, so the
         former distinct-count groupBy shuffled the whole table to
         reduce it by 3% — now the ONLY data shuffle is the block
         partitioning (duplicate-heavy callers keep the cardinality
         reduce, which the probe picks for them);
      2. within value-range blocks (width from the probe, r10: the
         sampled price range over ~32 blocks per configured shuffle
         partition — sized by the cluster, not a hand constant): running
         count ordered by x → per-block rank; block totals + a prefix
         window over the block table → global `rank_lt` = #rows < x.
         The only SinglePartition exchanges carry the block table and the
         15-row cut assembly — never the data;
      3. the 15 target positions q·(n-1) join back with ONE broadcast
         nested-loop over the ranked relation (15 × |rows| predicate
         evals) to pick the floor/ceil order statistics, and the
         cut interpolates exactly as Spark's Percentile / DuckDB
         quantile_cont do: (hi-pos)·v_lo + (pos-lo)·v_hi.

    Bit-identical cut points to `percentile` (parity-pinned vs DuckDB at
    both scales), but no value buffer anywhere: per-task memory is
    block-bounded throughout. Bucket assignment is unchanged: cuts
    broadcast as a 15-element array, map-side `1 + count(cuts < x)`,
    plain hash aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Raw-row ranking (r10): the probe reproduces the r8 call — prices
    # are ~97% unique (583k distinct of 600k at sf0.1; probe ratio 1.0),
    # so the distinct-count groupBy would shuffle the whole table to
    # reduce it by 3% — raw-row ranking shuffles ONCE (r8: 1.6-2.8s
    # cuts -> tight 1.1s, bit-identical)
    cuts = distributed_quantiles(
        li,
        "l_extendedprice",
        [i / _EQD_BUCKETS for i in range(1, _EQD_BUCKETS)],
        probe_key=f"q118:{sf_dir}",
    )
    return (
        li.join(F.broadcast(cuts))
        .select(
            _bucket_assign("l_extendedprice").alias("bucket_id"),
            "l_extendedprice",
        )
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("min_x"),
            F.max("l_extendedprice").alias("max_x"),
        )
    )


@register(
    "q118_approx_equidepth",
    bench=True,
    tags=("agg", "histogram", "percentile", "approx"),
    # rows-only by design: approx_percentile's KLL-sketch cut points are
    # engine-specific, so no DuckDB hash oracle is possible. The exact twin
    # (q118_equidepth_histogram) carries the oracle; tests pin that this
    # twin's buckets agree with the exact one within sketch tolerance.
)
def q118_approx_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-scale equi-depth histogram: identical plan to
    q118_equidepth_histogram but the {_EQD_BUCKETS}-1 interior cuts come
    from `approx_percentile` (KLL sketch, bounded memory per partition,
    mergeable partials) instead of exact `percentile` (which buffers every
    value in ONE aggregation buffer — fine at sf0.1, not at 100 TB).

    This is the plan you deploy: sketch agg → 15 cuts broadcast →
    map-side bucket assign → hash agg. Zero Window nodes, zero global
    sorts, memory bounded regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cuts = li.agg(
        F.expr(
            "approx_percentile(l_extendedprice, array({}), 10000)".format(
                ", ".join(str(i / _EQD_BUCKETS) for i in range(1, _EQD_BUCKETS))
            )
        ).alias("c")
    )
    return (
        li.join(F.broadcast(cuts))
        .select(
            _bucket_assign("l_extendedprice").alias("bucket_id"),
            "l_extendedprice",
        )
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("min_x"),
            F.max("l_extendedprice").alias("max_x"),
        )
    )


# ---------------------------------------------------------------------------
# q128 — rolling median (order statistic over a moving frame)
# ---------------------------------------------------------------------------
_RM_FRAME = 5  # trailing window size (rows), current row included


@register(
    "q128_rolling_median",
    tags=("window_frame", "median", "robust"),
    oracle=f"""
        SELECT event_id, user_id, med FROM (
          SELECT event_id, user_id,
                 quantile_cont(value, 0.5) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_RM_FRAME - 1} PRECEDING AND CURRENT ROW
                 ) AS med,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS rn
          FROM events
        ) t
        WHERE rn >= {_RM_FRAME}
    """,
)
def q128_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {_RM_FRAME}-row median of `value` per user — the robust
    moving-average companion to q49's rolling z-score (an order statistic
    in the frame, not a moment, so one outlier can't drag it).

    Spark's `percentile` runs as a window aggregate over the ROWS frame
    (≡ DuckDB quantile_cont — same linear interpolation, pinned by q24).
    One shuffle on user_id; frame state is O({_RM_FRAME}) per row. Rows
    without a full frame are dropped so every emitted median covers
    exactly {_RM_FRAME} observations.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-(_RM_FRAME - 1), W.currentRow)
    out = ev.select(
        "event_id",
        "user_id",
        F.expr("percentile(value, 0.5)").over(frame).alias("med"),
        F.row_number().over(w).alias("rn"),
    )
    return out.where(F.col("rn") >= _RM_FRAME).drop("rn")


# ---------------------------------------------------------------------------
# q129 — referential-integrity audit (FK orphan counts across the schema)
# ---------------------------------------------------------------------------
@register(
    "q129_fk_audit",
    tags=("quality", "integrity", "anti-join"),
    oracle="""
        SELECT 'customers_without_orders' AS check_name,
               (SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
               ) AS n_rows
        UNION ALL
        SELECT 'orders_without_customer',
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitems_without_order',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'orders_without_lineitems',
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        UNION ALL
        SELECT 'parts_never_ordered',
               (SELECT COUNT(*) FROM part p
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
        UNION ALL
        SELECT 'suppliers_never_used',
               (SELECT COUNT(*) FROM supplier s
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))
    """,
)
def q129_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: six anti-join
    violation counts in one labeled result — the referential-integrity
    gate a warehouse load runs before publishing.

    Each check is a LEFT ANTI join; small sides broadcast, the two
    fact-fact checks (lineitem↔orders) shuffle on their join key once.
    The key-only column pruning means every check reads one column per
    table.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("check_name"), "n_rows"
        )

    okeys = orders.select("o_orderkey")
    lkeys_o = li.select("l_orderkey")
    checks = [
        check(
            "customers_without_orders",
            cust.join(orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti"),
        ),
        check(
            "orders_without_customer",
            orders.join(F.broadcast(cust.select("c_custkey")), orders.o_custkey == F.col("c_custkey"), "left_anti"),
        ),
        check(
            "lineitems_without_order",
            li.join(okeys, li.l_orderkey == F.col("o_orderkey"), "left_anti"),
        ),
        check(
            "orders_without_lineitems",
            orders.join(lkeys_o, orders.o_orderkey == F.col("l_orderkey"), "left_anti"),
        ),
        check(
            "parts_never_ordered",
            part.join(li.select("l_partkey"), part.p_partkey == F.col("l_partkey"), "left_anti"),
        ),
        check(
            "suppliers_never_used",
            supp.join(li.select("l_suppkey"), supp.s_suppkey == F.col("l_suppkey"), "left_anti"),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# q130 — hierarchical ratio-to-parent rollup (nation share of region, etc.)
# ---------------------------------------------------------------------------
@register(
    "q130_ratio_to_parent",
    tags=("agg", "hierarchy", "ratio"),
    oracle=f"""
        WITH leaf AS (
          SELECT r_name, n_name,
                 SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS bal_dec
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name
        )
        SELECT
          r_name, n_name,
          CAST(bal_dec AS DOUBLE) AS bal,
          CAST(bal_dec AS DOUBLE)
            / CAST(SUM(bal_dec) OVER (PARTITION BY r_name) AS DOUBLE)
            AS share_of_region,
          CAST(bal_dec AS DOUBLE)
            / CAST(SUM(bal_dec) OVER () AS DOUBLE) AS share_of_global
        FROM leaf
    """,
)
def q130_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share report: each nation's balance as a fraction of
    its region and of the world.

    The facts aggregate ONCE to the leaf level (25 rows); parent totals
    are windows over that tiny relation, so the 'ratio to parent' costs
    nothing beyond the leaf rollup. Leaf AND parent sums stay DECIMAL
    (exact, order-independent) all the way — parent sums of leaf DOUBLES
    would accumulate in engine-dependent order — with one double cast on
    each side of the closing division.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    leaf = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.col("c_acctbal").cast("decimal(28,6)")).alias("bal_dec"))
    )
    bal = F.col("bal_dec").cast("double")
    return leaf.select(
        "r_name",
        "n_name",
        bal.alias("bal"),
        (bal / F.sum("bal_dec").over(W.partitionBy("r_name")).cast("double")).alias(
            "share_of_region"
        ),
        (bal / F.sum("bal_dec").over(W.partitionBy()).cast("double")).alias(
            "share_of_global"
        ),
    )


# ---------------------------------------------------------------------------
# q143 — promo revenue share per month (TPC-H Q14 shape)
# ---------------------------------------------------------------------------
@register(
    "q143_promo_share",
    tags=("join", "agg", "share"),
    oracle="""
        WITH m AS (
          SELECT strftime(CAST(l.l_shipdate AS DATE), '%Y-%m') AS month,
                 CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                    AS DECIMAL(28,6)) ELSE 0 END)
                      AS DOUBLE) AS promo_rev,
                 CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(28,6))) AS DOUBLE) AS total_rev
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY 1
        )
        SELECT month, promo_rev, total_rev,
               100.0 * promo_rev / total_rev AS promo_pct
        FROM m
    """,
)
def q143_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from promotional parts (TPC-H Q14's
    conditional-share shape): broadcast part dim, one keyed aggregate,
    DECIMAL-exact conditional and total sums, one closing division."""
    # spread_key: ×1.39 at local[4], ×1.41 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias("month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            .cast("double")
            .alias("promo_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
    )
    return m.select(
        "month",
        "promo_rev",
        "total_rev",
        (100.0 * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct"),
    )


# ---------------------------------------------------------------------------
# q144 — supplier diversity per part class (TPC-H Q16 shape)
# ---------------------------------------------------------------------------
@register(
    "q144_part_supplier_stats",
    tags=("agg", "distinct", "join"),
    oracle="""
        SELECT p.p_brand, p.p_type,
               CAST(p.p_size // 10 AS INTEGER) AS size_class,
               COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
               COUNT(*) AS n_lineitems
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2, 3
    """,
)
def q144_part_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier diversity per (brand, type, size class) — the
    TPC-H Q16 sourcing-risk readout: how many suppliers can ship each
    part class. Broadcast part dim; the distinct aggregation expands to
    the standard two-phase plan (partial distinct on the composite key,
    then merge) — no collect_set materialization."""
    # spread_key: ×1.44 at local[4], ×1.18 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            "p_type",
            F.expr("p_size div 10").cast("int").alias("size_class"),
        )
        .agg(
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# q145 — idle high-balance customers per nation (TPC-H Q22 shape)
# ---------------------------------------------------------------------------
@register(
    "q145_idle_rich_customers",
    tags=("agg", "anti-join", "subquery"),
    oracle="""
        WITH cutoff AS (
          SELECT c_nationkey,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS avg_bal
          FROM customer WHERE c_acctbal > 0 GROUP BY c_nationkey
        )
        SELECT n.n_name AS nation,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                 AS idle_balance
        FROM customer c
        JOIN cutoff t ON c.c_nationkey = t.c_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > t.avg_bal
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY n.n_name
    """,
)
def q145_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-nation-average balances and no orders since
    2000 — TPC-H Q22's dormant-capital shape ("ever ordered" is vacuous
    on this data: every customer has SOME order): per-nation averages
    broadcast back, an anti-join against the date-pruned orders slice,
    one rollup. The anti join is the only wide stage touching a fact
    table (and its scan is date-pushdown-pruned); the average table is
    |nations| rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    cutoff = (
        cust.where(F.col("c_acctbal") > 0)
        .groupBy("c_nationkey")
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    idle = (
        cust.join(F.broadcast(cutoff), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.where(
                F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00")
            ).select("o_custkey"),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    )
    return idle.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double").alias("idle_balance"),
    )


# ---------------------------------------------------------------------------
# q147 — supplier cold-start report (first-shipment recency)
# ---------------------------------------------------------------------------
@register(
    "q147_supplier_cold_start",
    tags=("agg", "onboarding", "recency"),
    oracle="""
        WITH firsts AS (
          SELECT l_suppkey,
                 MIN(CAST(l_shipdate AS DATE)) AS first_ship,
                 COUNT(*) AS n_shipments
          FROM lineitem GROUP BY l_suppkey
        ),
        gmax AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS dmax FROM lineitem)
        SELECT strftime(f.first_ship, '%Y-%m') AS onboarding_month,
               COUNT(*) AS n_suppliers,
               CAST(SUM(f.n_shipments) AS BIGINT) AS total_shipments,
               MIN(date_diff('day', f.first_ship, g.dmax)) AS min_days_active,
               MAX(date_diff('day', f.first_ship, g.dmax)) AS max_days_active
        FROM firsts f CROSS JOIN gmax g
        GROUP BY 1
    """,
)
def q147_supplier_cold_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier onboarding cohorts: when each supplier FIRST shipped,
    grouped by month, with activity spans — the cold-start report a
    sourcing team watches (new suppliers have no track record for the
    q135 SLA percentiles to mean anything).

    One keyed aggregate over lineitem, a one-row horizon cross join and
    a month rollup of the |suppliers|-sized relation; integer day
    arithmetic end to end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    firsts = li.groupBy("l_suppkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship"),
        F.count(F.lit(1)).alias("n_shipments"),
    )
    gmax = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("dmax"))
    return (
        firsts.crossJoin(F.broadcast(gmax))
        .groupBy(F.date_format("first_ship", "yyyy-MM").alias("onboarding_month"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("n_shipments").cast("bigint").alias("total_shipments"),
            F.min(F.datediff("dmax", "first_ship")).alias("min_days_active"),
            F.max(F.datediff("dmax", "first_ship")).alias("max_days_active"),
        )
    )


# ---------------------------------------------------------------------------
# q148 — denormalization drift audit (order totals vs lineitem sums)
# ---------------------------------------------------------------------------
@register(
    "q148_denorm_drift_audit",
    tags=("quality", "reconcile", "agg"),
    oracle="""
        WITH li AS (
          SELECT l_orderkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS li_total
          FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
          SELECT o.o_orderkey, o.o_totalprice, li.li_total,
                 abs(li.li_total - o.o_totalprice)
                   / greatest(o.o_totalprice, 1.0) AS rel_gap
          FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
        )
        SELECT
          CAST(CASE WHEN rel_gap = 0 THEN 0
                    WHEN rel_gap <= 0.01 THEN 1
                    WHEN rel_gap <= 0.10 THEN 2
                    WHEN rel_gap <= 0.50 THEN 3
                    ELSE 4 END AS INTEGER) AS gap_bucket,
          COUNT(*) AS n_orders,
          MIN(rel_gap) AS min_gap,
          MAX(rel_gap) AS max_gap
        FROM j
        GROUP BY 1
    """,
)
def q148_denorm_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistency audit between the denormalized order total and the sum
    of its line items, bucketed by relative discrepancy — the
    cross-table conformance gate that catches partial loads and stale
    denormalizations (a 100 TB warehouse re-runs this after every
    backfill).

    Line sums are DECIMAL-exact per order; the join is the standard
    fact-fact equi-join; buckets are one map-side CASE, so both engines
    bucket identical doubles identically.
    """
    # spread_key: ×1.45 at local[4], ×1.33 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    sums = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("li_total")
    )
    j = orders.join(sums, orders.o_orderkey == sums.l_orderkey).select(
        (
            F.abs(F.col("li_total") - F.col("o_totalprice"))
            / F.greatest(F.col("o_totalprice"), F.lit(1.0))
        ).alias("rel_gap")
    )
    bucket = (
        F.when(F.col("rel_gap") == 0, 0)
        .when(F.col("rel_gap") <= 0.01, 1)
        .when(F.col("rel_gap") <= 0.10, 2)
        .when(F.col("rel_gap") <= 0.50, 3)
        .otherwise(4)
        .cast("int")
        .alias("gap_bucket")
    )
    return (
        j.select(bucket, "rel_gap")
        .groupBy("gap_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("rel_gap").alias("min_gap"),
            F.max("rel_gap").alias("max_gap"),
        )
    )


# ---------------------------------------------------------------------------
# q160 — weighted quantiles over a bounded value domain (revenue-weighted
# quantity median/p90 per return flag)
# ---------------------------------------------------------------------------
@register(
    "q160_weighted_median",
    tags=("percentile", "weighted", "window"),
    bench=True,
    oracle="""
        WITH grouped AS (
          SELECT l_returnflag, l_quantity AS qty,
                 SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS w
          FROM lineitem GROUP BY 1, 2
        ),
        cum AS (
          SELECT l_returnflag, qty, w,
                 SUM(w) OVER (PARTITION BY l_returnflag ORDER BY qty
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 SUM(w) OVER (PARTITION BY l_returnflag) AS tot
          FROM grouped
        )
        SELECT l_returnflag,
               MIN(CASE WHEN cw * 2 >= tot THEN qty END) AS median_qty,
               MIN(CASE WHEN cw * 10 >= tot * 9 THEN qty END) AS p90_qty,
               CAST(MAX(tot) AS DOUBLE) AS total_weight
        FROM cum GROUP BY l_returnflag
    """,
)
def q160_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median and p90 of order quantity per return flag —
    the weighted-quantile operator (each value counts with its dollar
    weight, not once).

    The whole computation lives on the (flag × quantity) relation:
    l_quantity has a fixed 50-value domain, so one keyed aggregation
    reduces lineitem to <= |flags|*50 rows before any window runs. The
    cumulative-weight windows partition by flag over <= 50 rows each —
    bounded by the value DOMAIN, not the data size, so the shape is
    unchanged at 100 TB (the q118 discipline: never sort raw facts for a
    quantile). Weights are DECIMAL(28,6) sums (order-independent, exact
    cross-engine); the quantile gate is an integer-scaled decimal
    comparison (cw*2 >= tot), no division anywhere before the closing
    double cast of the total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_returnflag", F.col("l_quantity").alias("qty")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias("w")
    )
    wc = W.partitionBy("l_returnflag").orderBy("qty")
    cum = grouped.select(
        "l_returnflag",
        "qty",
        F.sum("w").over(wc.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cw"),
        F.sum("w").over(W.partitionBy("l_returnflag")).alias("tot"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("cw") * 2 >= F.col("tot"), F.col("qty"))).alias(
            "median_qty"
        ),
        F.min(F.when(F.col("cw") * 10 >= F.col("tot") * 9, F.col("qty"))).alias(
            "p90_qty"
        ),
        F.max("tot").cast("double").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# q177 — smoothed target encoding (supervised categorical feature)
# ---------------------------------------------------------------------------
TE_SMOOTH = 10  # pseudo-observations of the global mean per category


@register(
    "q177_target_encoding",
    tags=("features", "encoding", "supervised"),
    oracle=f"""
        WITH per AS (
          SELECT p.p_brand AS brand,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS s
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY 1
        ),
        g AS (
          SELECT CAST(SUM(s) AS DOUBLE) / SUM(n) AS gmean FROM per
        )
        SELECT per.brand, per.n,
               CAST(per.s AS DOUBLE) / per.n AS raw_mean,
               (CAST(per.s AS DOUBLE) + {TE_SMOOTH} * g.gmean)
                 / (per.n + {TE_SMOOTH}) AS encoded
        FROM per, g
    """,
)
def q177_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of part brand against line revenue: each
    category's feature value is its mean target shrunk toward the global
    mean by TE_SMOOTH pseudo-observations — the supervised categorical
    encoder that replaces one-hot columns at high cardinality without
    letting rare categories memorize their few rows.

    One fact⋈dim join (dim broadcast), one keyed aggregation to the
    category relation, one scalar global mean broadcast back. Target
    sums are DECIMAL-exact (order-independent); the shrinkage is a fixed
    closing expression of the exact integers. At 100 TB nothing changes:
    the category relation is vocabulary-sized, the smoothing constant is
    the only knob.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias("s"),
        )
    )
    g = per.agg((F.sum("s").cast("double") / F.sum("n")).alias("gmean"))
    return per.crossJoin(F.broadcast(g)).select(
        "brand",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("raw_mean"),
        (
            (F.col("s").cast("double") + TE_SMOOTH * F.col("gmean"))
            / (F.col("n") + TE_SMOOTH)
        ).alias("encoded"),
    )


# ---------------------------------------------------------------------------
# q181 — join-size estimation from key-frequency relations (CBO-style)
# ---------------------------------------------------------------------------
def _join_audit_sql(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    return f"""
        SELECT '{name}' AS join_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {lt}) AS n_left,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {rt}) AS n_right,
               CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
               CAST(SUM(cl * cr) AS BIGINT) AS predicted_rows
        FROM (SELECT {lk} AS k, COUNT(*) AS cl FROM {lt} GROUP BY 1) l
        JOIN (SELECT {rk} AS k, COUNT(*) AS cr FROM {rt} GROUP BY 1) r
          ON l.k = r.k"""


@register(
    "q181_join_size_estimate",
    tags=("planning", "cbo", "audit"),
    oracle=" UNION ALL ".join(
        [
            _join_audit_sql("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            _join_audit_sql("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
            _join_audit_sql("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ]
    ),
)
def q181_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer-style join cardinality audit: the EXACT output
    size of each fact⋈fact/dim equi-join — Σ_k c_left(k)·c_right(k) —
    computed from the two key-frequency relations WITHOUT materializing a
    single joined row. The planner's question ("how big would this join
    be?") answered at keys-relation cost.

    Each audited pair is two keyed counts (map-side partials) joined on
    the key — both sides are keys-sized, orders of magnitude below the
    fact tables — and one product-sum. At 100 TB the frequency
    relations are what a CBO sketches with count-min/HLL; here they are
    exact, so the prediction equals the true join size by identity (the
    oracle replays the same identity).
    """

    def audit(name, left, lk, right, rk):
        l = left.groupBy(F.col(lk).alias("k")).agg(F.count(F.lit(1)).alias("cl"))
        r = right.groupBy(F.col(rk).alias("k")).agg(F.count(F.lit(1)).alias("cr"))
        # table sizes as lazy scalar aggregates (no driver-side count() —
        # the whole audit stays one deferred plan)
        nl = left.agg(F.count(F.lit(1)).cast("bigint").alias("n_left"))
        nr = right.agg(F.count(F.lit(1)).cast("bigint").alias("n_right"))
        return (
            l.join(r, "k")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_matching_keys"),
                F.sum(F.col("cl") * F.col("cr")).cast("bigint").alias(
                    "predicted_rows"
                ),
            )
            .crossJoin(F.broadcast(nl))
            .crossJoin(F.broadcast(nr))
            .select(
                F.lit(name).alias("join_name"),
                "n_left",
                "n_right",
                "n_matching_keys",
                "predicted_rows",
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")
    return (
        audit("lineitem_orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(audit("lineitem_part", li, "l_partkey", part, "p_partkey"))
        .unionByName(audit("orders_customer", orders, "o_custkey", cust, "c_custkey"))
    )
