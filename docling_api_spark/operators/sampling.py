"""Deterministic sampling and data-profiling operators.

Training-data pipelines need REPRODUCIBLE sampling: `df.sample()` depends on
partitioning and seed plumbing, but a content-hash predicate gives the same
sample on any cluster layout, any engine, any day — and it's the only way an
oracle can agree with us. md5 is the cross-engine hash (Spark xxhash64 has
no DuckDB twin).

Scale notes: hash-sampling is a map-side filter (pushes nothing to the scan
but costs one hash per row); stratified top-n per group is one window; the
profile operator is one pass of aggregates per profiled column set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from docling_api_spark.functions.numeric import sql_davg, sql_dsum, davg, dsum
from docling_api_spark.functions.quantiles import distributed_quantiles
from docling_api_spark.plans.registry import register
from docling_api_spark.tables import literal_df, load_table


def hash_bucket(col, n_buckets: int = 100):
    """Deterministic [0, n_buckets) bucket from the md5 of a key's string
    form — identical in any engine that can md5 a UTF-8 string."""
    return F.conv(F.substring(F.md5(F.col(col).cast("string").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    ) % n_buckets


def sql_hash_bucket(expr: str, n_buckets: int = 100) -> str:
    """DuckDB twin of :func:`hash_bucket`."""
    return (
        f"CAST(concat('0x', substring(md5(CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT) "
        f"% {n_buckets}"
    )


# ---------------------------------------------------------------------------
# q90 — column profiling (the `describe` pass of a data-quality gate)
# ---------------------------------------------------------------------------
@register(
    "q90_profile_orders",
    tags=("profile", "quality", "agg"),
    oracle=f"""
        SELECT
          COUNT(*) AS n_rows,
          COUNT(DISTINCT o_custkey) AS n_customers,
          COUNT(DISTINCT o_orderstatus) AS n_statuses,
          CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS null_totalprice,
          MIN(o_totalprice) AS min_price,
          MAX(o_totalprice) AS max_price,
          {sql_davg('o_totalprice', 'avg_price')},
          strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
          strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
        FROM orders
    """,
)
def q90_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile: cardinalities, null counts, ranges, mean."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias(
            "null_totalprice"
        ),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        davg("o_totalprice", "avg_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
    )


# ---------------------------------------------------------------------------
# q91 — deterministic hash sample (reproducible corpus subsetting)
# ---------------------------------------------------------------------------
@register(
    "q91_hash_sample",
    tags=("sampling", "dedup"),
    oracle=f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE {sql_hash_bucket('doc_id')} < 10
    """,
)
def q91_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% sample selected by content-hash bucket — the same rows come back
    on any engine/partitioning (unlike df.sample), so downstream runs and
    holdout splits are reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(hash_bucket("doc_id") < 10).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# q92 — stratified deterministic sample (per-language quota)
# ---------------------------------------------------------------------------
@register(
    "q92_stratified_sample",
    tags=("sampling", "window"),
    oracle=f"""
        SELECT doc_id, lang
        FROM (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rn
          FROM documents
        ) t
        WHERE rn <= 20
    """,
)
def q92_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 documents per language, chosen by hash order — a deterministic
    stratified sample that rebalances skewed language distributions (the
    standard move when assembling a mixing recipe for training corpora)."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# q93 — weighted source mixing (training-mix assembly)
# ---------------------------------------------------------------------------
@register(
    "q93_weighted_mix",
    tags=("sampling", "mixing"),
    oracle=f"""
        WITH weights(src_prefix, pct) AS (VALUES ('src0', 100), ('src1', 50), ('src2', 10))
        SELECT d.doc_id, d.source, w.pct
        FROM documents d
        JOIN weights w ON d.source = w.src_prefix
        WHERE {sql_hash_bucket('d.doc_id')} < w.pct
    """,
)
def q93_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling rates (100%/50%/10%) applied with the
    deterministic hash predicate — the corpus-mixing recipe as one
    broadcast join + filter, no shuffle of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    weights = literal_df(
        spark, [("src0", 100), ("src1", 50), ("src2", 10)], "src_prefix string, pct int"
    )
    return (
        docs.join(F.broadcast(weights), docs.source == weights.src_prefix)
        .filter(hash_bucket("doc_id") < F.col("pct"))
        .select("doc_id", "source", "pct")
    )


# ---------------------------------------------------------------------------
# q83 — join-key skew diagnostic (the "should this join be salted?" signal)
# ---------------------------------------------------------------------------
SKEW_TOP_N = 5


@register(
    "q83_join_key_skew",
    tags=("profiling", "skew", "join"),
    oracle=f"""
        WITH freq AS (
          SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY 1
        ),
        summ AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                 quantile_cont(cnt, 0.5) AS p50_freq,
                 quantile_cont(cnt, 0.99) AS p99_freq,
                 MAX(cnt) AS max_freq
          FROM freq
        ),
        top AS (
          SELECT l_orderkey, cnt FROM freq
          ORDER BY cnt DESC, l_orderkey ASC LIMIT {SKEW_TOP_N}
        )
        SELECT t.l_orderkey, t.cnt, s.n_keys, s.p50_freq, s.p99_freq,
               s.max_freq,
               CAST(s.max_freq AS DOUBLE) / s.p50_freq AS skew_ratio
        FROM top t CROSS JOIN summ s
    """,
)
def q83_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency distribution of the orders↔lineitem join key: exact
    p50/p99/max rows-per-key plus the {5} hottest keys. skew_ratio =
    max/p50 is the planner signal — above ~an order of magnitude, salt the
    key (q38's two-stage pattern) or rely on AQE skew-join splitting.

    Scale shape: one keyed count (map-side partials), then everything
    downstream runs on the keys-sized frequency relation — a two-phase
    global aggregate for the summary, TakeOrderedAndProject for the top
    keys, and a 1-row broadcast to stitch them. The base table is scanned
    once, projected to the key column only.
    """
    freq = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    summ = freq.groupBy().agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.expr("percentile(cnt, 0.5)").alias("p50_freq"),
        F.expr("percentile(cnt, 0.99)").alias("p99_freq"),
        F.max("cnt").alias("max_freq"),
    )
    top = freq.orderBy(F.col("cnt").desc(), F.col("l_orderkey").asc()).limit(
        SKEW_TOP_N
    )
    return top.crossJoin(F.broadcast(summ)).select(
        "l_orderkey",
        "cnt",
        "n_keys",
        "p50_freq",
        "p99_freq",
        "max_freq",
        (F.col("max_freq").cast("double") / F.col("p50_freq")).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# q102 — revenue concentration (Pareto: share held above a percentile)
# ---------------------------------------------------------------------------
CONC_PCTS = (0.90, 0.99)


@register(
    "q102_revenue_concentration",
    tags=("profiling", "pareto", "concentration"),
    oracle=f"""
        WITH cust AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS rev
          FROM orders GROUP BY 1
        ),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
                 CAST(SUM(CAST(rev AS DECIMAL(28,6))) AS DOUBLE) AS total,
                 quantile_cont(rev, 0.90) AS t90,
                 quantile_cont(rev, 0.99) AS t99
          FROM cust
        ),
        th AS (
          SELECT CAST(0.90 AS DOUBLE) AS pct, t90 AS threshold, n_cust, total
          FROM stats
          UNION ALL
          SELECT CAST(0.99 AS DOUBLE) AS pct, t99 AS threshold, n_cust, total
          FROM stats
        )
        SELECT t.pct, t.threshold, t.n_cust,
               CAST(COUNT(*) FILTER (WHERE c.rev > t.threshold) AS BIGINT)
                 AS n_top,
               CAST(SUM(CAST(c.rev AS DECIMAL(28,6)))
                      FILTER (WHERE c.rev > t.threshold) AS DOUBLE) / t.total
                 AS revenue_share
        FROM cust c CROSS JOIN th t
        GROUP BY 1, 2, 3, t.total
    """,
)
def q102_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: what share of total revenue do customers
    ABOVE the p90 / p99 per-customer-revenue thresholds hold?

    Deliberately NOT a Lorenz-curve global sort: ranking every customer
    needs a single global order (unbounded single-partition window at
    corpus scale), while thresholds come from the blocked-rank
    distributed selection (`functions/quantiles.py` — per-customer
    revenue is a continuous double, so the builtin `percentile` buffer
    would hold ~every customer; bit-identical to DuckDB quantile_cont)
    and the shares from one conditional decimal-exact pass over the
    customers-sized relation against a broadcast 1-row stats table.
    Per-customer revenue is an exact DECIMAL sum cast to double, so
    thresholds, counts, and shares all replay bit-exactly.
    """
    dec = lambda c: F.col(c).cast("decimal(28,6)")
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
        # lazy cut: threshold selection, base stats, and the share pass
        # all consume the customer-revenue relation
        .localCheckpoint(eager=False)
    )
    base = cust.groupBy().agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(dec("rev")).cast("double").alias("total"),
    )
    # Raw-row ranking (r10, probe reproduces r8): summed revenues are
    # near-unique doubles — rank raw rows, one shuffle instead of a
    # no-op distinct-count reduce
    tq = distributed_quantiles(
        cust, "rev", [0.90, 0.99], probe_key=f"q102:{sf_dir}",
    )
    stats = base.join(F.broadcast(tq)).selectExpr(
        "n_cust", "total", "c[0] AS t90", "c[1] AS t99"
    )
    th = stats.selectExpr(
        "stack(2, 0.90D, t90, 0.99D, t99) AS (pct, threshold)", "n_cust", "total"
    )
    above = F.col("rev") > F.col("threshold")
    return (
        cust.crossJoin(F.broadcast(th))
        .groupBy("pct", "threshold", "n_cust", "total")
        .agg(
            F.count(F.when(above, 1)).alias("n_top"),
            (
                F.sum(F.when(above, dec("rev"))).cast("double") / F.col("total")
            ).alias("revenue_share"),
        )
        .drop("total")
    )


# ---------------------------------------------------------------------------
# q163 — stratified proportional sample with largest-remainder allocation
# ---------------------------------------------------------------------------
SAMPLE_PCT = 10  # sample floor(N/10) documents overall


@register(
    "q163_proportional_sample",
    tags=("sampling", "stratified", "window"),
    oracle=f"""
        WITH s AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_stratum
          FROM documents GROUP BY lang
        ),
        t AS (
          SELECT CAST(SUM(n_stratum) AS BIGINT) AS n_total,
                 CAST(SUM(n_stratum) // {SAMPLE_PCT} AS BIGINT) AS target
          FROM s
        ),
        base AS (
          SELECT s.lang, s.n_stratum, t.n_total, t.target,
                 CAST(s.n_stratum * t.target // t.n_total AS BIGINT) AS floor_alloc,
                 CAST(s.n_stratum * t.target % t.n_total AS BIGINT) AS remainder
          FROM s, t
        ),
        alloc AS (
          SELECT lang, n_stratum,
                 floor_alloc
                 + CASE WHEN ROW_NUMBER() OVER (ORDER BY remainder DESC, lang)
                             <= target - (SELECT SUM(floor_alloc) FROM base)
                        THEN 1 ELSE 0 END AS n_alloc
          FROM base
        ),
        ranked AS (
          SELECT d.doc_id, d.lang,
                 ROW_NUMBER() OVER (PARTITION BY d.lang
                                    ORDER BY md5(CAST(d.doc_id AS VARCHAR))) AS rk
          FROM documents d
        )
        SELECT r.doc_id, r.lang, a.n_stratum, CAST(a.n_alloc AS BIGINT) AS n_alloc
        FROM ranked r JOIN alloc a ON r.lang = a.lang
        WHERE r.rk <= a.n_alloc
    """,
)
def q163_proportional_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 10% document sample, proportionally allocated per
    language with largest-remainder rounding so the total hits the target
    EXACTLY — the reproducible subsetting pass a corpus-mixing pipeline
    runs before q95-style reweighting.

    Allocation math is all integer (floor quota + largest-remainder
    top-up, ties broken by lang) on the strata relation (|langs| rows —
    driver-trivial, broadcast back). Selection is deterministic on any
    engine or partitioning: the per-stratum rank orders by md5 of the
    doc id (q91's hash idiom), and the rank <= n_alloc filter is pushed
    map-side by WindowGroupLimit, so no stratum is ever fully sorted
    past its sample prefix. At 100 TB the allocation plan is unchanged;
    only the rank windows grow, bounded per stratum.
    """
    docs = load_table(spark, sf_dir, "documents")
    # lazy cut: the totals probe and the allocation grid both re-derive
    # this |langs|-row relation (audit: 5 corpus scans/plan uncut)
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stratum")
    ).localCheckpoint(eager=False)
    t = s.agg(
        F.sum("n_stratum").cast("bigint").alias("n_total"),
        F.expr(f"CAST(SUM(n_stratum) DIV {SAMPLE_PCT} AS BIGINT)").alias("target"),
    )
    base = s.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_stratum",
        "n_total",
        "target",
        F.expr("CAST((n_stratum * target) DIV n_total AS BIGINT)").alias(
            "floor_alloc"
        ),
        (F.col("n_stratum") * F.col("target") % F.col("n_total"))
        .cast("bigint")
        .alias("remainder"),
    )
    short = base.agg(
        (F.max("target") - F.sum("floor_alloc")).cast("bigint").alias("shortfall")
    )
    wrem = W.orderBy(F.col("remainder").desc(), F.col("lang"))
    alloc = (
        base.crossJoin(F.broadcast(short))
        .select(
            "lang",
            "n_stratum",
            (
                F.col("floor_alloc")
                + F.when(F.row_number().over(wrem) <= F.col("shortfall"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_alloc"),
        )
    )
    wrank = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(wrank).alias("rk")
    )
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .where(F.col("rk") <= F.col("n_alloc"))
        .select("doc_id", "lang", "n_stratum", "n_alloc")
    )


# ---------------------------------------------------------------------------
# q167 — skew-mitigation salt planner (ceil-quota salt counts per hot key)
# ---------------------------------------------------------------------------
SALT_TARGET_ROWS = 600  # rows a single (key, salt) group should not exceed


@register(
    "q167_salt_planner",
    tags=("skew", "planning", "quality"),
    oracle=f"""
        WITH k AS (
          SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM lineitem GROUP BY l_suppkey
        ),
        plan AS (
          SELECT l_suppkey, n_rows,
                 CAST((n_rows + {SALT_TARGET_ROWS} - 1) // {SALT_TARGET_ROWS}
                      AS BIGINT) AS n_salts
          FROM k
        )
        SELECT l_suppkey, n_rows, n_salts
        FROM plan WHERE n_salts > 1
    """,
)
def q167_salt_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting plan for a skewed aggregation/join key: per supplier key,
    how many salt partitions a downstream q38-style salted aggregate
    should fan it out to (ceil(rows / target-rows-per-group)); only keys
    needing more than one salt are emitted.

    This is the PLANNING half of the skew story (q83 diagnoses, q38
    executes): one keyed count — partial-aggregated map-side, so the hot
    key never concentrates — a map-side integer ceil, and a selective
    filter. The emitted plan is keys-sized and broadcastable back into
    the salted operator at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    plan = k.select(
        "l_suppkey",
        "n_rows",
        F.expr(
            f"CAST((n_rows + {SALT_TARGET_ROWS} - 1) DIV {SALT_TARGET_ROWS} AS BIGINT)"
        ).alias("n_salts"),
    )
    return plan.where(F.col("n_salts") > 1)


# ---------------------------------------------------------------------------
# q169 — unequal-probability (length-weighted) Bernoulli sample
# ---------------------------------------------------------------------------
WS_DIV = 5  # inclusion probability = n_chars / (WS_DIV * max_chars)
_U32 = 4294967296  # 2^32: the md5-prefix uniform's denominator


@register(
    "q169_weighted_sample",
    tags=("sampling", "weighted", "dedup"),
    oracle=f"""
        WITH mx AS (
          SELECT CAST(MAX(n_chars) AS BIGINT) AS max_chars FROM documents
        ),
        u AS (
          SELECT doc_id, lang, n_chars,
                 CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) AS u32
          FROM documents
        )
        SELECT u.doc_id, u.lang, u.n_chars,
               CAST(u.n_chars AS DOUBLE) / ({WS_DIV} * mx.max_chars)
                 AS inclusion_p
        FROM u, mx
        WHERE u.u32 * {WS_DIV} * mx.max_chars < u.n_chars * {_U32}
    """,
)
def q169_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted Bernoulli sample: each document is kept with
    probability proportional to its size (n_chars), so the sample's
    token mass tracks the corpus while short documents are thinned —
    the unequal-probability complement of q91 (uniform) and q163
    (stratified).

    The inclusion test is EXACT integer cross-multiplication — u32 ·
    WS_DIV · max_chars < n_chars · 2³², where u32 is the engine's md5
    uniform (q91's idiom) — no pow/log/double thresholds, so the same
    rows are selected on any engine or partitioning and the decision is
    map-side against one broadcast scalar (the corpus max). The emitted
    inclusion_p is the only double, computed after selection.
    """
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").cast("bigint").alias("max_chars"))
    u = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("u32"),
    )
    return (
        u.crossJoin(F.broadcast(mx))
        .where(
            F.col("u32") * WS_DIV * F.col("max_chars")
            < F.col("n_chars") * F.lit(_U32)
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (
                F.col("n_chars").cast("double")
                / (WS_DIV * F.col("max_chars"))
            ).alias("inclusion_p"),
        )
    )


# ---------------------------------------------------------------------------
# q203 — deterministic negative sampling for recommender training pairs
# ---------------------------------------------------------------------------
NEG_K = 5          # candidate negatives drawn per user
NEG_A = 2654435761  # Knuth multiplicative-hash constants: the candidate
NEG_B = 40503       # stream is a pure function of (user, draw index)


@register(
    "q203_negative_sampling",
    tags=("sampling", "recommender", "training-pairs"),
    oracle=f"""
        WITH pos AS (
          SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        np AS (SELECT MAX(p_partkey) AS n_items FROM part),
        users AS (SELECT DISTINCT user_id FROM pos),
        cand AS (
          SELECT u.user_id, CAST(j AS BIGINT) AS draw,
                 (u.user_id * {NEG_A} + j * {NEG_B}) % np.n_items + 1
                   AS item_id
          FROM users u
          CROSS JOIN (SELECT unnest(range(1, {NEG_K} + 1)) AS j) draws
          CROSS JOIN np
        )
        SELECT c.user_id, c.item_id AS neg_item, c.draw
        FROM cand c
        WHERE NOT EXISTS (
          SELECT 1 FROM pos p
          WHERE p.user_id = c.user_id AND p.item_id = c.item_id
        )
    """,
)
def q203_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender/contrastive
    training: NEG_K candidate non-purchased items per user from a
    multiplicative-hash stream keyed by (user, draw), with accidental
    positives removed — the training-pair generation step between the
    interaction log and the learner.

    The hash stream replaces an RNG so the sample is reproducible
    across engines, runs, and partitionings (the q91 hash-sampling
    discipline). Candidates are generated MAP-SIDE (a bounded NEG_K-way
    explode of the distinct-user relation x one scalar item-count
    broadcast); the only shuffle is the anti-join against the positives
    relation on (user, item) — co-partitioned with how positives are
    already keyed. Collisions with positives are dropped, not redrawn
    (documented: k is a budget, not a quota — redraw loops serialize at
    scale). At 100 TB: identical plan, positives bucketed by user."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # spread_key: ×1.29 at local[4], ×1.09 at local[8] (SCALING.md "Knob sites")
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey").select("l_orderkey", "l_partkey")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    np_ = load_table(spark, sf_dir, "part").agg(
        F.max("p_partkey").alias("n_items")
    )
    users = pos.select("user_id").distinct()
    cand = (
        users.crossJoin(F.broadcast(np_))
        .select(
            "user_id",
            "n_items",
            F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("j"),
        )
        .select(
            "user_id",
            F.col("j").cast("bigint").alias("draw"),
            (
                (F.col("user_id") * NEG_A + F.col("j") * NEG_B)
                % F.col("n_items")
                + 1
            ).alias("item_id"),
        )
    )
    return cand.join(
        pos, ["user_id", "item_id"], "left_anti"
    ).select("user_id", F.col("item_id").alias("neg_item"), "draw")


# ---------------------------------------------------------------------------
# q270 — capture-recapture population estimate (Lincoln-Petersen/Chapman)
# ---------------------------------------------------------------------------
# The ecology estimator data teams reach for when the true universe is
# unobservable (how many users exist, how many near-dup clusters does the
# corpus hold): treat two independent observation channels as capture
# rounds; the overlap calibrates the total.
#     N̂_Chapman = (n1+1)(n2+1)/(m+1) − 1
# Channels here: users seen in 'view' events vs users seen in 'click'
# events; ground truth (total distinct users) is in the data, so the
# output also reports the estimator's actual error — a self-auditing
# estimate. All exact integer set sizes from one distinct aggregate.
@register(
    "q270_capture_recapture",
    tags=("stats", "estimation", "sampling"),
    oracle="""
        WITH caps AS (
          SELECT user_id,
                 MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
                 MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
          FROM events GROUP BY user_id
        ),
        sizes AS (
          SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2,
                 CAST(SUM(c1 * c2) AS BIGINT) AS m,
                 CAST(COUNT(*) AS BIGINT) AS n_true
          FROM caps
        )
        SELECT n1, n2, m, n_true,
               (CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1
                 AS n_chapman,
               ((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1 - n_true)
                 / n_true AS rel_error
        FROM sizes
    """,
)
def q270_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the user universe from the
    view/click channels, with the self-audit against the observable truth
    (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    caps = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c1"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c2"),
    )
    sizes = caps.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
    )
    return sizes.selectExpr(
        "n1", "n2", "m", "n_true",
        "(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1 AS n_chapman",
        "((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1 - n_true)"
        " / n_true AS rel_error",
    )


# ---------------------------------------------------------------------------
# q292 — Neyman allocation: the optimal stratified sampling plan
# ---------------------------------------------------------------------------
# q163 samples proportionally; the OPTIMAL allocation for estimating a
# mean weights strata by N_h·σ_h (Neyman): volatile strata deserve more
# of the budget. Per region stratum: exact integer moments give σ_h; the
# plan allocates a 1000-row budget as
#     n_h = budget · N_h σ_h / Σ N_h σ_h    (micro-quantized shares)
# plus the design-effect comparison against proportional allocation
# (ratio of resulting variances — closed form from the same moments).
_NEYMAN_BUDGET = 1000


@register(
    "q292_neyman_allocation",
    tags=("sampling", "design", "stats"),
    oracle=f"""
        WITH labeled AS (
          SELECT r.r_name AS region,
                 CAST(ROUND(o.o_totalprice) AS BIGINT) AS v
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        strata AS (
          SELECT region, CAST(COUNT(*) AS BIGINT) AS nh,
                 CAST(SUM(v) AS BIGINT) AS s1,
                 CAST(SUM(v * v) AS BIGINT) AS s2
          FROM labeled GROUP BY region
        ),
        sized AS (
          SELECT region, nh,
                 sqrt((CAST(nh AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                      / (CAST(nh AS DOUBLE) * (nh - 1))) AS sd
          FROM strata
        ),
        tot AS (
          SELECT CAST(SUM(nh) AS BIGINT) AS n,
                 CAST(SUM(CAST(ROUND(nh * sd) AS BIGINT)) AS BIGINT)
                   AS sum_nsd
          FROM sized
        )
        SELECT s.region, s.nh, s.sd,
               CAST(ROUND({_NEYMAN_BUDGET}.0
                    * CAST(ROUND(s.nh * s.sd) AS BIGINT) / t.sum_nsd)
                 AS BIGINT) AS neyman_n,
               CAST(ROUND({_NEYMAN_BUDGET}.0 * s.nh / t.n) AS BIGINT)
                 AS proportional_n
        FROM sized s CROSS JOIN tot t
    """,
)
def q292_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal vs proportional allocation of a 1000-row sampling
    budget across region strata (exact moments, quantized N_h·σ_h shares
    — see block comment)."""
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
            F.round("o_totalprice").cast("bigint").alias("v"),
        )
    )
    strata = labeled.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("s2"),
    )
    sized = strata.selectExpr(
        "region",
        "nh",
        "sqrt((CAST(nh AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
        " / (CAST(nh AS DOUBLE) * (nh - 1))) AS sd",
    )
    tot = sized.agg(
        F.sum("nh").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(ROUND(nh * sd) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_nsd"),
    )
    return sized.crossJoin(F.broadcast(tot)).selectExpr(
        "region",
        "nh",
        "sd",
        f"CAST(ROUND({_NEYMAN_BUDGET}.0"
        " * CAST(ROUND(nh * sd) AS BIGINT) / sum_nsd) AS BIGINT)"
        " AS neyman_n",
        f"CAST(ROUND({_NEYMAN_BUDGET}.0 * nh / n) AS BIGINT)"
        " AS proportional_n",
    )


# ---------------------------------------------------------------------------
# q295 — MinHash audience similarity vs exact (sketch-accuracy audit)
# ---------------------------------------------------------------------------
# The q209-style estimate-vs-truth audit for SET sketches: estimate each
# segment pair's user-set Jaccard from 32 deterministic MinHash values
# (min of md5(perm:user) per permutation — the mergeable one-pass sketch
# that replaces shipping whole membership lists between clusters), and
# put the exact Jaccard (q229's set algebra) beside it with the absolute
# error. At 100 TB each segment keeps 32 longs instead of |members| ids;
# this audit is how you price that compression.
_MH_PERMS = 32


@register(
    "q295_minhash_audience",
    tags=("sketch", "minhash", "audit"),
    oracle=f"""
        WITH members AS (
          SELECT DISTINCT event_type AS seg, user_id FROM events
        ),
        perms AS (SELECT unnest(range(0, {_MH_PERMS})) AS p),
        hashes AS (
          SELECT m.seg, pr.p,
                 MIN(CAST(concat('0x', substring(md5(concat(
                     CAST(pr.p AS VARCHAR), ':', CAST(m.user_id AS VARCHAR))),
                     1, 8)) AS BIGINT)) AS mh
          FROM members m CROSS JOIN perms pr
          GROUP BY m.seg, pr.p
        ),
        est AS (
          SELECT a.seg AS seg_a, b.seg AS seg_b,
                 CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                      AS BIGINT) AS agree
          FROM hashes a JOIN hashes b
            ON a.p = b.p AND a.seg < b.seg
          GROUP BY 1, 2
        ),
        sizes AS (
          SELECT seg, CAST(COUNT(*) AS BIGINT) AS n FROM members GROUP BY seg
        ),
        exact AS (
          SELECT a.seg AS seg_a, b.seg AS seg_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM members a JOIN members b
            ON a.user_id = b.user_id AND a.seg < b.seg
          GROUP BY 1, 2
        )
        SELECT e.seg_a, e.seg_b,
               CAST(e.agree AS DOUBLE) / {_MH_PERMS} AS jaccard_est,
               CAST(x.inter AS DOUBLE) / (sa.n + sb.n - x.inter)
                 AS jaccard_exact,
               abs(CAST(e.agree AS DOUBLE) / {_MH_PERMS}
                   - CAST(x.inter AS DOUBLE) / (sa.n + sb.n - x.inter))
                 AS abs_error
        FROM est e
        JOIN exact x ON e.seg_a = x.seg_a AND e.seg_b = x.seg_b
        JOIN sizes sa ON e.seg_a = sa.seg
        JOIN sizes sb ON e.seg_b = sb.seg
    """,
)
def q295_minhash_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-permutation MinHash Jaccard estimate vs exact for every segment
    pair, with the sketch's absolute error (see block comment — 32 longs
    per segment replace the full membership list)."""
    ev = load_table(spark, sf_dir, "events")
    # lazy cut: the sketch build, the sizes table, and both exact-overlap
    # sides consume the membership relation (audit: 6 event scans/plan)
    members = ev.select(
        F.col("event_type").alias("seg"), "user_id"
    ).distinct().localCheckpoint(eager=False)
    perms = spark.range(_MH_PERMS).select(F.col("id").alias("p"))
    hashes = (
        members.crossJoin(F.broadcast(perms))
        .selectExpr(
            "seg",
            "p",
            "CAST(conv(substring(md5(CAST(concat(CAST(p AS STRING), ':',"
            " CAST(user_id AS STRING)) AS BINARY)), 1, 8), 16, 10)"
            " AS BIGINT) AS h",
        )
        .groupBy("seg", "p")
        .agg(F.min("h").alias("mh"))
        .localCheckpoint(eager=False)  # both signature-join sides reuse
    )
    ha, hb = hashes.alias("ha"), hashes.alias("hb")
    est = (
        ha.join(
            hb,
            (F.col("ha.p") == F.col("hb.p"))
            & (F.col("ha.seg") < F.col("hb.seg")),
        )
        .groupBy(F.col("ha.seg").alias("seg_a"), F.col("hb.seg").alias("seg_b"))
        .agg(
            F.sum(
                F.when(F.col("ha.mh") == F.col("hb.mh"), 1).otherwise(0)
            ).cast("bigint").alias("agree")
        )
    )
    sizes = members.groupBy("seg").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ma, mb = members.alias("ma"), members.alias("mb")
    exact = (
        ma.join(
            mb,
            (F.col("ma.user_id") == F.col("mb.user_id"))
            & (F.col("ma.seg") < F.col("mb.seg")),
        )
        .groupBy(F.col("ma.seg").alias("seg_a"), F.col("mb.seg").alias("seg_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        est.join(exact, ["seg_a", "seg_b"])
        .join(F.broadcast(sizes.selectExpr("seg AS seg_a", "n AS na")), "seg_a")
        .join(F.broadcast(sizes.selectExpr("seg AS seg_b", "n AS nb")), "seg_b")
        .selectExpr(
            "seg_a",
            "seg_b",
            f"CAST(agree AS DOUBLE) / {_MH_PERMS} AS jaccard_est",
            "CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard_exact",
            f"abs(CAST(agree AS DOUBLE) / {_MH_PERMS}"
            " - CAST(inter AS DOUBLE) / (na + nb - inter)) AS abs_error",
        )
    )


# ---------------------------------------------------------------------------
# q306 — effective sample size of a weighted corpus (design effect)
# ---------------------------------------------------------------------------
# Every weighted mix (q93/q95 temperature sampling, q220 raking) pays a
# variance tax: n weighted rows estimate like ESS = (Σw)²/Σw² unweighted
# ones (Kish). This audit prices the q95-style sqrt-temperature weights
# at the DOCUMENT level: per-doc weight = sqrt-share weight of its
# source, ESS and the design effect n/ESS per the whole corpus plus the
# per-source weight table. Weights quantized to micro-integers (ROUND —
# half-away both engines), so Σw and Σw² are exact.
@register(
    "q306_effective_sample_size",
    tags=("sampling", "design", "stats"),
    oracle="""
        WITH c AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY source
        ),
        w AS (
          SELECT source, n,
                 CAST(ROUND(1000000.0 * sqrt(CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE)) AS BIGINT) AS wq
          FROM c
        ),
        sums AS (
          SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
                 CAST(SUM(n * wq) AS BIGINT) AS sw,
                 CAST(SUM(n * wq * wq) AS BIGINT) AS sww
          FROM w
        )
        SELECT n_docs,
               (CAST(sw AS DOUBLE) * sw) / sww AS ess,
               CAST(n_docs AS DOUBLE) * sww / (CAST(sw AS DOUBLE) * sw)
                 AS design_effect
        FROM sums
    """,
)
def q306_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size and design effect of the sqrt-temperature
    document weights (see block comment — micro-quantized weights, exact
    sums)."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = c.selectExpr(
        "source",
        "n",
        "CAST(ROUND(1000000.0 * sqrt(CAST(n AS DOUBLE))"
        " / CAST(n AS DOUBLE)) AS BIGINT) AS wq",
    )
    sums = w.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.col("n") * F.col("wq")).cast("bigint").alias("sw"),
        F.sum(F.col("n") * F.col("wq") * F.col("wq"))
        .cast("bigint")
        .alias("sww"),
    )
    return sums.selectExpr(
        "n_docs",
        "(CAST(sw AS DOUBLE) * sw) / sww AS ess",
        "CAST(n_docs AS DOUBLE) * sww / (CAST(sw AS DOUBLE) * sw)"
        " AS design_effect",
    )
