"""Data-quality / audit operators: distribution forensics and contract
checks over the fact tables.

These are the governance queries a 100 TB ingestion pipeline runs before
anything downstream trusts the data: does a monetary column follow its
expected digit law (fraud/synthetic-data tell), and does every table meet
its column contracts (nulls, ranges, uniqueness, accepted values)?

Scale posture: every check is a single column-pruned scan folded into a
scalar or tiny-group aggregate with map-side partials. The expectation
suite unions one-row aggregates — at 1000 executors each check is an
independent stage pipeline over its own pruned scan, and the union is
metadata-only (no shuffle joins anywhere).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_api_spark.plans.registry import register
from docling_api_spark.tables import load_table

# ---------------------------------------------------------------------------
# q153 — Benford first-digit audit of order totals
# ---------------------------------------------------------------------------
# expected shares log10(1 + 1/d), embedded as IDENTICAL literal text in the
# Spark plan and the DuckDB oracle so both engines parse the same doubles
# (computing log10 at runtime risks last-ulp libm differences).
_BENFORD = {d: repr(math.log10(1 + 1 / d)) for d in range(1, 10)}
# CAST AS DOUBLE: Spark parses a bare decimal literal as DECIMAL(17,16),
# which would hash-compare as a Decimal, not the float the oracle emits.
_BENFORD_SQL_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD.items()
) + " END"


@register(
    "q153_benford_digit_audit",
    tags=("quality", "distribution", "audit"),
    oracle=f"""
        WITH digits AS (
          SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INTEGER) AS first_digit
          FROM orders
          WHERE o_totalprice > 0
        ),
        obs AS (
          SELECT first_digit, COUNT(*) AS n FROM digits GROUP BY first_digit
        ),
        tot AS (SELECT SUM(n) AS total FROM obs)
        SELECT
          first_digit,
          n,
          CAST(n AS DOUBLE) / total AS obs_share,
          {_BENFORD_SQL_CASE} AS benford_share,
          abs(CAST(n AS DOUBLE) / total - ({_BENFORD_SQL_CASE})) AS abs_dev
        FROM obs CROSS JOIN tot
    """,
)
def q153_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law — the classic forensic screen for fabricated or truncated
    monetary data.

    The first digit is taken from the decimal text of the integer-cents
    value (bigint→string renders identically in every engine; a
    log10-based extraction would hinge on libm rounding). One hash
    aggregation to 9 rows, a broadcast scalar total, map-side everything.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    obs = digits.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    benford = F.expr(_BENFORD_SQL_CASE)
    obs_share = F.col("n").cast("double") / F.col("total")
    return obs.crossJoin(F.broadcast(tot)).select(
        "first_digit",
        "n",
        obs_share.alias("obs_share"),
        benford.alias("benford_share"),
        F.abs(obs_share - benford).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# q156 — column-contract expectation suite (dbt-tests / Great-Expectations
# shape: one labeled violation count per declared contract)
# ---------------------------------------------------------------------------
_ACCEPTED_EVENT_TYPES = ("signup", "click", "view", "purchase", "error")


@register(
    "q156_expectation_suite",
    tags=("quality", "contracts", "audit"),
    bench=True,
    oracle=f"""
        SELECT 'orders.o_totalprice.positive' AS check_name,
               CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
               COUNT(*) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'orders.o_orderdate.in_range',
               CAST(SUM(CASE WHEN o_orderdate IS NULL
                             OR o_orderdate <  TIMESTAMP '2020-01-01'
                             OR o_orderdate >= TIMESTAMP '2030-01-01'
                             THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*)
        FROM orders
        UNION ALL
        SELECT 'customer.c_custkey.unique',
               COUNT(*) - COUNT(DISTINCT c_custkey),
               COUNT(*)
        FROM customer
        UNION ALL
        SELECT 'lineitem.l_quantity.range_1_50',
               CAST(SUM(CASE WHEN l_quantity IS NULL
                             OR l_quantity < 1 OR l_quantity > 50
                             THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*)
        FROM lineitem
        UNION ALL
        SELECT 'events.event_type.accepted_values',
               CAST(SUM(CASE WHEN event_type NOT IN
                             {_ACCEPTED_EVENT_TYPES!r} THEN 1 ELSE 0 END)
                 AS BIGINT),
               COUNT(*)
        FROM events
        UNION ALL
        SELECT 'documents.text.not_null_not_empty',
               CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                             THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*)
        FROM documents
    """,
)
def q156_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative column-contract suite: six labeled checks (positivity,
    date range, key uniqueness, value range, accepted values,
    non-emptiness) each reduced to a (check_name, n_violations, n_rows)
    row — the dbt-tests / Great Expectations readout as one DataFrame.

    Each check scans ONLY its own columns (pruned scan → scalar agg with
    map-side partials); the union is plan-level, so checks parallelize
    across the cluster and a new contract is one more select-agg pair.
    """

    def check(df: DataFrame, name: str, violated: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.sum(F.when(violated, 1).otherwise(0)).cast("bigint").alias(
                "n_violations"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    tp = F.col("o_totalprice")
    od = F.col("o_orderdate")
    qty = F.col("l_quantity")
    checks = [
        check(orders, "orders.o_totalprice.positive", tp.isNull() | (tp <= 0)),
        check(
            orders,
            "orders.o_orderdate.in_range",
            od.isNull()
            | (od < F.lit("2020-01-01").cast("timestamp"))
            | (od >= F.lit("2030-01-01").cast("timestamp")),
        ),
        customer.agg(
            F.lit("customer.c_custkey.unique").alias("check_name"),
            (F.count(F.lit(1)) - F.count_distinct(F.col("c_custkey")))
            .cast("bigint")
            .alias("n_violations"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        check(
            lineitem,
            "lineitem.l_quantity.range_1_50",
            qty.isNull() | (qty < 1) | (qty > 50),
        ),
        check(
            events,
            "events.event_type.accepted_values",
            ~F.col("event_type").isin(*_ACCEPTED_EVENT_TYPES),
        ),
        check(
            documents,
            "documents.text.not_null_not_empty",
            F.col("text").isNull() | (F.length("text") == 0),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# q206 — GDPR delete-propagation audit (right-to-be-forgotten sweep)
# ---------------------------------------------------------------------------
GDPR_MOD = 97  # deterministic stand-in for the uploaded deletion list


@register(
    "q206_gdpr_cascade",
    tags=("privacy", "audit", "multi-table"),
    oracle=f"""
        WITH del AS (
          SELECT DISTINCT user_id AS k FROM events WHERE user_id % {GDPR_MOD} = 0
        )
        SELECT 'events' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows_to_purge,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys_matched
        FROM events WHERE user_id IN (SELECT k FROM del)
        UNION ALL
        SELECT 'orders',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
        FROM orders WHERE o_custkey IN (SELECT k FROM del)
        UNION ALL
        SELECT 'lineitem',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IN (SELECT k FROM del)
        UNION ALL
        SELECT 'customer',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
        FROM customer WHERE c_custkey IN (SELECT k FROM del)
    """,
)
def q206_gdpr_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a deletion list of
    subject keys, report per table how many rows the purge will touch —
    including the FK cascade through orders into lineitem (lineitem
    carries no customer key; purge reach is via its order). The
    pre-flight every GDPR/CCPA erasure pipeline runs before mutating.

    The deletion list is semi-join-shaped everywhere: each table is
    LEFT SEMI joined (broadcast — deletion lists are small by nature)
    against the key set, counted, and the per-table counts union into
    the audit report. No table is rewritten here; at 100 TB the same
    semi-joins become the predicate of the actual delete (with the
    lineitem cascade resolved through the orders key map first, exactly
    as this plan does). Deterministic stand-in list: user_id % {GDPR_MOD}
    == 0."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    # lazy cut: the deletion list is broadcast into all four table audits
    # — uncut, each audit re-derives it from a fresh events scan
    del_keys = (
        ev.where(F.col("user_id") % GDPR_MOD == 0)
        .select(F.col("user_id").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def audit(df: DataFrame, key: str, label: str) -> DataFrame:
        return (
            df.join(F.broadcast(del_keys), df[key] == F.col("k"), "left_semi")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows_to_purge"),
                F.countDistinct(key).cast("bigint").alias("n_keys_matched"),
            )
            .select(
                F.lit(label).alias("table_name"),
                "n_rows_to_purge",
                "n_keys_matched",
            )
        )

    li_cascade = li.join(
        o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey
    )
    return (
        audit(ev, "user_id", "events")
        .unionByName(audit(o, "o_custkey", "orders"))
        .unionByName(audit(li_cascade, "o_custkey", "lineitem"))
        .unionByName(audit(c, "c_custkey", "customer"))
    )


# ---------------------------------------------------------------------------
# q267 — l-diversity audit (the privacy gate k-anonymity alone misses)
# ---------------------------------------------------------------------------
# q173 certifies k-anonymity: every quasi-identifier group has ≥ k rows.
# But a group of 50 users who ALL share one sensitive value leaks that
# value despite k=50 — distinct-l-diversity additionally requires ≥ l
# DISTINCT sensitive values per group. Quasi-identifiers here: (nation,
# market segment); sensitive attribute: order priority of the customer's
# orders. Emits per-group size, distinct-sensitive count, and the
# dominant-value share (the homogeneity-attack risk); plus pass flags.
# Exact counts; the argmax share uses the q260 packed max_by key.
_LDIV_K = 5
_LDIV_L = 3


@register(
    "q267_l_diversity",
    tags=("privacy", "governance", "audit"),
    oracle=f"""
        WITH joined AS (
          SELECT n.n_name AS nation, c.c_mktsegment AS segment,
                 o.o_orderpriority AS sensitive
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey
        ),
        sv AS (
          SELECT nation, segment, sensitive, CAST(COUNT(*) AS BIGINT) AS c
          FROM joined GROUP BY 1, 2, 3
        ),
        grp AS (
          SELECT nation, segment,
                 CAST(SUM(c) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS l_distinct,
                 CAST(MAX(c) AS BIGINT) AS dominant_n
          FROM sv GROUP BY 1, 2
        )
        SELECT nation, segment, n_rows, l_distinct,
               CAST(dominant_n AS DOUBLE) / n_rows AS dominant_share,
               CASE WHEN n_rows >= {_LDIV_K} THEN 1 ELSE 0 END AS k_anonymous,
               CASE WHEN l_distinct >= {_LDIV_L} THEN 1 ELSE 0 END
                 AS l_diverse
        FROM grp
    """,
)
def q267_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit over (nation, segment) quasi-groups with
    order priority as the sensitive attribute — the homogeneity-attack
    check beyond q173's k-anonymity (see block comment)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("sensitive"),
        )
    )
    sv = joined.groupBy("nation", "segment", "sensitive").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grp = sv.groupBy("nation", "segment").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
        F.max("c").cast("bigint").alias("dominant_n"),
    )
    return grp.selectExpr(
        "nation",
        "segment",
        "n_rows",
        "l_distinct",
        "CAST(dominant_n AS DOUBLE) / n_rows AS dominant_share",
        f"CASE WHEN n_rows >= {_LDIV_K} THEN 1 ELSE 0 END AS k_anonymous",
        f"CASE WHEN l_distinct >= {_LDIV_L} THEN 1 ELSE 0 END AS l_diverse",
    )


# ---------------------------------------------------------------------------
# q283 — Cohen's kappa: do two quality gates agree beyond chance?
# ---------------------------------------------------------------------------
# Curation pipelines stack quality gates; the governance question is
# whether two gates measure the SAME thing (redundant) or different
# things (complementary). Cohen's κ = (p_o − p_e)/(1 − p_e) corrects raw
# agreement for chance. Raters here: the lexical-diversity gate (q62's
# uniq-ratio ≥ corpus median) and the token-length gate (mean token
# length ≥ corpus median) — both deterministic integer-permille scores
# with exact median cuts, so the 2×2 agreement table is exact and κ is a
# closing rational expression.
@register(
    "q283_cohen_kappa",
    tags=("governance", "agreement", "stats"),
    oracle="""
        WITH scored AS (
          SELECT doc_id,
                 CAST(1000 * len(list_distinct(string_split(text, ' ')))
                      // len(string_split(text, ' ')) AS BIGINT) AS uniq_pm,
                 CAST(1000 * (length(text)
                              - len(string_split(text, ' ')) + 1)
                      // len(string_split(text, ' ')) AS BIGINT) AS tlen_pm
          FROM documents
        ),
        cuts AS (
          SELECT quantile_cont(uniq_pm, 0.5) AS cu,
                 quantile_cont(tlen_pm, 0.5) AS ct
          FROM scored
        ),
        rated AS (
          SELECT CASE WHEN s.uniq_pm >= c.cu THEN 1 ELSE 0 END AS a,
                 CASE WHEN s.tlen_pm >= c.ct THEN 1 ELSE 0 END AS b
          FROM scored s CROSS JOIN cuts c
        ),
        cells AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(a * b) AS BIGINT) AS n11,
                 CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                 CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                 CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
          FROM rated
        )
        SELECT n, n11, n10, n01, n00,
               CAST(n11 + n00 AS DOUBLE) / n AS observed_agreement,
               (CAST(n11 + n00 AS DOUBLE) / n
                - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                   + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                  / (CAST(n AS DOUBLE) * n))
               / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                       + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                      / (CAST(n AS DOUBLE) * n)) AS kappa
        FROM cells
    """,
)
def q283_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the lexical-diversity and token-length quality
    gates (exact median cuts, exact 2×2 table — see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id",
        "CAST(1000 * size(array_distinct(split(text, ' ')))"
        " div size(split(text, ' ')) AS BIGINT) AS uniq_pm",
        "CAST(1000 * (length(text) - size(split(text, ' ')) + 1)"
        " div size(split(text, ' ')) AS BIGINT) AS tlen_pm",
    )
    cuts = scored.agg(
        F.expr("percentile(uniq_pm, 0.5)").alias("cu"),
        F.expr("percentile(tlen_pm, 0.5)").alias("ct"),
    )
    rated = scored.crossJoin(F.broadcast(cuts)).selectExpr(
        "CASE WHEN uniq_pm >= cu THEN 1 ELSE 0 END AS a",
        "CASE WHEN tlen_pm >= ct THEN 1 ELSE 0 END AS b",
    )
    cells = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    pe = (
        "(CAST(n11 + n10 AS DOUBLE) * (n11 + n01)"
        " + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))"
        " / (CAST(n AS DOUBLE) * n)"
    )
    return cells.selectExpr(
        "n", "n11", "n10", "n01", "n00",
        "CAST(n11 + n00 AS DOUBLE) / n AS observed_agreement",
        f"(CAST(n11 + n00 AS DOUBLE) / n - {pe}) / (1 - {pe}) AS kappa",
    )
