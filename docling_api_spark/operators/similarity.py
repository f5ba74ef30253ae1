"""Similarity-search operators over `embeddings` (SURVEY.md M3).

Brute-force cosine top-k as the exact baseline, an LSH-bucketed ANN variant
as the scale path, kNN label voting, and near-dup pair mining.

Scale notes:
- Brute force broadcasts the (small) query set and makes ONE pass over the
  corpus — O(|Q|·N) with no corpus shuffle; per-query top-k via window.
  Right answer when |Q| is small; at 100 TB with large |Q| use q51's LSH.
- The LSH variant buckets vectors by random-hyperplane sign bits; candidate
  generation is an equi-join on the bucket id, so comparisons scale with
  bucket collisions instead of N².
- Vector math stays in Catalyst higher-order functions (zip_with/aggregate,
  whole-stage codegen) — no Python in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from docling_api_spark.plans.registry import register
from docling_api_spark.tables import literal_df, load_table

N_QUERIES = 8
TOP_K = 5

# Cast float32 elements to double BEFORE multiplying so Spark and DuckDB do
# the identical IEEE computation; the fold is sequential in both engines.
DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM_SPARK = (
    "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)

# DuckDB twins (1-based list indexing; list_sum folds sequentially).
DOT_DUCK = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
NORM_DUCK = (
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)

COSINE_BASE_DUCK = f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {NORM_DUCK} AS norm FROM embeddings
    ),
    pairs AS (
      SELECT
        q.vec_id AS q_vec,
        n.vec_id AS n_vec,
        n.label  AS n_label,
        {DOT_DUCK.format(a='q.embedding', b='n.embedding')} / (q.norm * n.norm) AS cosine
      FROM e q, e n
      WHERE q.vec_id < {N_QUERIES} AND n.vec_id <> q.vec_id
    ),
    topk AS (
      SELECT q_vec, n_vec, n_label, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_vec ORDER BY cosine DESC, n_vec) AS rn
      FROM pairs
    )
"""


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_vec, n_vec, n_label, cosine) for every query × corpus vector."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn("norm", F.expr(NORM_SPARK))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    n = emb.select(
        F.col("vec_id").alias("n_vec"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
    )
    return (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("n_vec") != F.col("q_vec"))
        .withColumn(
            "cosine",
            F.expr(DOT_SPARK.format(a="q_emb", b="n_emb")) / (F.col("q_norm") * F.col("n_norm")),
        )
        .select("q_vec", "n_vec", "n_label", "cosine")
    )


def topk_per_query(pairs: DataFrame, k: int = TOP_K) -> DataFrame:
    w = W.partitionBy("q_vec").orderBy(F.desc("cosine"), F.asc("n_vec"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# ---------------------------------------------------------------------------
# q50 — brute-force cosine top-k (exact ANN baseline)
# ---------------------------------------------------------------------------
@register(
    "q50_cosine_topk",
    tags=("similarity", "ann", "topk"),
    bench=True,
    oracle=f"""
        {COSINE_BASE_DUCK}
        SELECT q_vec, n_vec, cosine, rn FROM topk WHERE rn <= {TOP_K}
    """,
)
def q50_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each of the first 8 query vectors."""
    return topk_per_query(_scored_pairs(spark, sf_dir)).select(
        "q_vec", "n_vec", "cosine", "rn"
    )


# ---------------------------------------------------------------------------
# q51 — LSH-bucketed approximate NN (the scale path; rows-only)
# ---------------------------------------------------------------------------
def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible across
    engines/runs without any RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane-{p}-{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 0xFFFFFFFF * 2.0 - 1.0)
        planes.append(row)
    return planes


_LSH_PLANES, _LSH_DIM = 6, 64


def _q51_oracle() -> str:
    """DuckDB replay of the LSH bucket assignment + rerank, with the same
    literal hyperplane weights the Spark side embeds (exact double literals
    → identical sign bits → identical buckets)."""
    planes = _hyperplanes(_LSH_PLANES, _LSH_DIM)
    bucket_terms = []
    for p, row in enumerate(planes):
        weights = "[" + ", ".join(repr(w) for w in row) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {_LSH_DIM} + 1), "
            f"i -> ({weights})[i] * CAST(embedding[i] AS DOUBLE)))"
        )
        bucket_terms.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
    bucket = " + ".join(bucket_terms)
    return f"""
        WITH e AS (
          SELECT vec_id, embedding, {NORM_DUCK} AS norm,
                 CAST({bucket} AS BIGINT) AS bucket
          FROM embeddings
        ),
        cand AS (
          SELECT q.vec_id AS q_vec, n.vec_id AS n_vec,
                 {DOT_DUCK.format(a='q.embedding', b='n.embedding')} / (q.norm * n.norm)
                   AS cosine
          FROM e q JOIN e n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id
          WHERE q.vec_id < {N_QUERIES}
        )
        SELECT q_vec, n_vec, cosine, rn
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_vec ORDER BY cosine DESC, n_vec
          ) AS rn FROM cand
        ) t
        WHERE rn <= {TOP_K}
    """


@register("q51_ann_lsh", tags=("similarity", "ann", "lsh"), oracle=_q51_oracle())
def q51_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket join + exact rerank.

    6 sign bits → 64 buckets; candidates = corpus vectors sharing the
    query's bucket; exact cosine only on candidates. Recall/selectivity is
    tuned via the bit count (more data → more bits); the structure (bucket
    equi-join, bounded rerank) is what survives when N² is impossible.
    The md5-seeded hyperplanes are plain double literals, so the oracle
    replays bucket assignment and rerank exactly.
    """
    n_planes, dim = _LSH_PLANES, _LSH_DIM
    planes = _hyperplanes(n_planes, dim)
    planes_lit = F.array(
        *[F.array(*[F.lit(w) for w in row]) for row in planes]
    ).alias("planes")

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("norm", F.expr(NORM_SPARK))
        .withColumn("planes", planes_lit)
        .withColumn(
            "bucket",
            F.expr(
                """
                aggregate(
                  transform(planes, p ->
                    CASE WHEN aggregate(zip_with(p, embedding,
                                 (w, x) -> w * CAST(x AS DOUBLE)),
                               CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) > 0
                         THEN 1 ELSE 0 END),
                  (CAST(0 AS BIGINT), 0),
                  (acc, bit) -> (acc.col1 + shiftleft(CAST(bit AS BIGINT), acc.col2), acc.col2 + 1),
                  acc -> acc.col1)
                """
            ),
        )
        .select("vec_id", "label", "embedding", "norm", "bucket")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        "bucket",
    )
    n = emb.select(
        F.col("vec_id").alias("n_vec"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
        "bucket",
    )
    cand = (
        n.join(F.broadcast(q), "bucket")
        .filter(F.col("n_vec") != F.col("q_vec"))
        .withColumn(
            "cosine",
            F.expr(DOT_SPARK.format(a="q_emb", b="n_emb")) / (F.col("q_norm") * F.col("n_norm")),
        )
    )
    w = W.partitionBy("q_vec").orderBy(F.desc("cosine"), F.asc("n_vec"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_vec", "n_vec", "cosine", "rn")
    )


# ---------------------------------------------------------------------------
# q54 — IVF-style ANN: coarse quantizer cells + multi-probe (oracle)
# ---------------------------------------------------------------------------
_N_PROBE = 2

_Q54_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {NORM_DUCK} AS norm FROM embeddings
    ),
    cent AS (
      SELECT label AS cell, list(m ORDER BY pos) AS c FROM (
        SELECT label, i - 1 AS pos,
               CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
        GROUP BY label, i - 1
      ) t GROUP BY label
    ),
    ass AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY score DESC, cell DESC
             ) AS crn
      FROM (
        SELECT e.vec_id, c.cell,
               list_sum(list_transform(range(1, len(c.c) + 1),
                 i -> c.c[i] * CAST(e.embedding[i] AS DOUBLE))) AS score
        FROM e, cent c
      ) s
    ),
    cand AS (
      SELECT qs.vec_id AS q_vec, cs.vec_id AS n_vec, cs.cell AS cell,
             {DOT_DUCK.format(a='eq.embedding', b='en.embedding')}
               / (eq.norm * en.norm) AS cosine
      FROM (SELECT * FROM ass WHERE crn <= {_N_PROBE} AND vec_id < {N_QUERIES}) qs
      JOIN (SELECT * FROM ass WHERE crn = 1) cs
        ON qs.cell = cs.cell AND cs.vec_id <> qs.vec_id
      JOIN e eq ON eq.vec_id = qs.vec_id
      JOIN e en ON en.vec_id = cs.vec_id
    )
    SELECT q_vec, n_vec, cell, cosine, rn FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_vec ORDER BY cosine DESC, n_vec ASC
      ) AS rn
      FROM cand
    ) r WHERE rn <= {TOP_K}
"""


@register("q54_ann_ivf", tags=("similarity", "ann", "ivf"), oracle=_Q54_ORACLE)
def q54_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN: k-means-style cells from a deterministic coarse
    quantizer (per-label mean vectors), inverted-list assignment, 2-cell
    multi-probe, exact rerank inside probed cells.

    The structure is the 100 TB vector-search shape: centroids are tiny and
    broadcast, every vector is assigned in one map-side pass, and a query
    touches |probed cells| / |cells| of the corpus instead of all of it.
    The quantizer "training" is decimal-exact, so the DuckDB oracle replays
    the whole pipeline (centroids, ranked assignment, probing, rerank);
    tests additionally assert returned cosines agree with brute force.
    """
    n_probe = _N_PROBE
    emb = load_table(spark, sf_dir, "embeddings").withColumn("norm", F.expr(NORM_SPARK))

    # coarse quantizer: mean vector per label (exact decimal sums → the
    # "training" is deterministic), collected driver-side — 10 × 64 floats.
    cent_rows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(28,12)")).cast("double")
                / F.count("x")
            ).alias("m")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.expr("transform(pm, s -> s.m)").alias("centroid"))
        .collect()
    )
    centroids = F.array(
        *[
            F.struct(
                F.lit(r["label"]).alias("cell"),
                F.array(*[F.lit(float(x)) for x in r["centroid"]]).alias("c"),
            )
            for r in sorted(cent_rows, key=lambda r: r["label"])
        ]
    )

    # map-side assignment: scores against every centroid, ranked cell list
    scored_cells = F.expr(
        """
        transform(cents, s -> struct(
          aggregate(zip_with(s.c, embedding, (w, x) -> w * CAST(x AS DOUBLE)),
                    CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS score,
          s.cell AS cell))
        """
    )
    ranked = F.expr("reverse(array_sort(scored_cells))")
    assigned = (
        emb.withColumn("cents", centroids)
        .withColumn("scored_cells", scored_cells)
        .withColumn("ranked", ranked)
    )
    corpus = assigned.select(
        F.col("vec_id").alias("n_vec"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
        F.expr("ranked[0].cell").alias("cell"),
    )
    queries = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_vec"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
            F.explode(F.expr(f"slice(transform(ranked, s -> s.cell), 1, {n_probe})")).alias(
                "cell"
            ),
        )
    )
    cand = (
        corpus.join(F.broadcast(queries), "cell")
        .filter(F.col("n_vec") != F.col("q_vec"))
        .withColumn(
            "cosine",
            F.expr(DOT_SPARK.format(a="q_emb", b="n_emb")) / (F.col("q_norm") * F.col("n_norm")),
        )
    )
    w = W.partitionBy("q_vec").orderBy(F.desc("cosine"), F.asc("n_vec"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_vec", "n_vec", "cell", "cosine", "rn")
    )


# ---------------------------------------------------------------------------
# q52 — kNN label vote (classification on top of top-k)
# ---------------------------------------------------------------------------
@register(
    "q52_knn_label_vote",
    tags=("similarity", "knn", "classify"),
    oracle=f"""
        {COSINE_BASE_DUCK},
        votes AS (
          SELECT q_vec, n_label, COUNT(*) AS n_votes
          FROM topk WHERE rn <= {TOP_K}
          GROUP BY q_vec, n_label
        )
        SELECT q_vec, n_label AS predicted_label, n_votes
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_vec ORDER BY n_votes DESC, n_label
          ) AS vr FROM votes
        ) v
        WHERE vr = 1
    """,
)
def q52_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority label among each query's top-5 neighbors (deterministic ties)."""
    topk = topk_per_query(_scored_pairs(spark, sf_dir))
    votes = topk.groupBy("q_vec", "n_label").agg(F.count(F.lit(1)).alias("n_votes"))
    w = W.partitionBy("q_vec").orderBy(F.desc("n_votes"), F.asc("n_label"))
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("q_vec", F.col("n_label").alias("predicted_label"), "n_votes")
    )


# ---------------------------------------------------------------------------
# q53 — embedding near-dup pairs (cosine threshold within label)
# ---------------------------------------------------------------------------
@register(
    "q53_embedding_neardup",
    tags=("similarity", "neardup"),
    oracle=f"""
        WITH e AS (
          SELECT vec_id, label, embedding, {NORM_DUCK} AS norm FROM embeddings
        )
        SELECT
          a.vec_id AS vec_a,
          b.vec_id AS vec_b,
          a.label  AS label,
          {DOT_DUCK.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm) AS cosine
        FROM e a JOIN e b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {DOT_DUCK.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm) >= 0.30
    """,
)
def q53_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embedding pairs (cosine >= 0.30) within each label.

    The label equi-key keeps the pair join shuffle-partitionable; a keyless
    variant would use q51's LSH buckets as the join key instead.
    """
    emb = load_table(spark, sf_dir, "embeddings").withColumn("norm", F.expr(NORM_SPARK))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn(
            "cosine",
            F.expr(DOT_SPARK.format(a="emb_a", b="emb_b")) / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine") >= 0.30)
        .select("vec_a", "vec_b", "label", "cosine")
    )


# ---------------------------------------------------------------------------
# q55 — embedding distribution drift (per-label centroid vs global centroid)
# ---------------------------------------------------------------------------
# Corpus-health diagnostic: if one source/label's centroid drifts from the
# global centroid, its documents live in a different region of embedding
# space (domain shift, encoder change, ingestion bug). Centroids are
# element-wise means computed as 64 JVM-side aggregates in ONE groupBy —
# no explode, so the shuffle carries |labels| × 64 decimals, not
# |corpus| × 64 exploded rows. Cross-row float addition is not
# associative, so elements are rounded to DECIMAL(18,6) first and summed
# exactly (order-independent ⇒ bit-identical across engines and across
# partition schedules); the final distance is evaluated in double with the
# same left-associative term order on both engines.
_DRIFT_DIM = 64


def _drift_dist_sql(s: str, n: str, g: str, nn: str) -> str:
    """Left-associative Σ_i (s_i/n − g_i/N)² in double, shared term shape."""
    terms = [
        f"(CAST({s}{i} AS DOUBLE)/CAST({n} AS DOUBLE)"
        f" - CAST({g}{i} AS DOUBLE)/CAST({nn} AS DOUBLE))"
        f" * (CAST({s}{i} AS DOUBLE)/CAST({n} AS DOUBLE)"
        f" - CAST({g}{i} AS DOUBLE)/CAST({nn} AS DOUBLE))"
        for i in range(1, _DRIFT_DIM + 1)
    ]
    return "SQRT(" + " + ".join(terms) + ")"


# Per-label decimal-exact element sums as an oracle CTE — shared by q55
# (drift vs global centroid) and q79 (per-vector outlier distance).
_PER_LABEL_SUMS_SQL = f"""per AS (
          SELECT label, COUNT(*) AS n,
                 {", ".join(
                     f"SUM(CAST(ROUND(CAST(embedding[{i}] AS DOUBLE), 6)"
                     f" AS DECIMAL(18,6))) AS s{i}"
                     for i in range(1, _DRIFT_DIM + 1)
                 )}
          FROM embeddings GROUP BY label
        )"""


@register(
    "q55_embedding_drift",
    tags=("similarity", "embeddings", "drift"),
    oracle=f"""
        WITH {_PER_LABEL_SUMS_SQL},
        tot AS (
          SELECT SUM(n) AS nn,
                 {", ".join(f"SUM(s{i}) AS g{i}" for i in range(1, _DRIFT_DIM + 1))}
          FROM per
        )
        SELECT p.label, p.n,
               {_drift_dist_sql('p.s', 'p.n', 'g.g', 'g.nn')} AS drift
        FROM per p CROSS JOIN tot g
    """,
)
def q55_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2 distance between the label's embedding centroid and the
    global centroid, with order-independent (decimal-exact) accumulation."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r16: each agg column is ONE parsed SQL expression, not a 6-deep
    # pyspark Column composition — the old form paid ~384 py4j driver
    # round-trips (~1.4s of the query's wall) just BUILDING the plan;
    # the SQL text is the same expression tree, bit-identical results.
    dec = (
        "SUM(CAST(ROUND(CAST(element_at(embedding, {i}) AS DOUBLE), 6)"
        " AS DECIMAL(18,6))) AS s{i}"
    )
    per = emb.groupBy("label").agg(
        F.expr("COUNT(1) AS n"),
        *[F.expr(dec.format(i=i)) for i in range(1, _DRIFT_DIM + 1)],
    )
    glob = per.groupBy().agg(
        F.expr("SUM(n) AS nn"),
        *[F.expr(f"SUM(s{i}) AS g{i}") for i in range(1, _DRIFT_DIM + 1)],
    )
    return (
        per.crossJoin(F.broadcast(glob))
        .withColumn("drift", F.expr(_drift_dist_sql("s", "n", "g", "nn")))
        .select("label", "n", "drift")
    )


# ---------------------------------------------------------------------------
# q79 — embedding outliers (farthest from own-label centroid)
# ---------------------------------------------------------------------------
OUTLIER_K = 10


def _point_dist_sql(elem_fmt: str, s: str, n: str) -> str:
    """Left-associative Σ_i (e_i − s_i/n)² in double; `elem_fmt` formats the
    i-th embedding element accessor for the engine at hand."""
    terms = []
    for i in range(1, _DRIFT_DIM + 1):
        d = (
            f"(CAST({elem_fmt.format(i=i)} AS DOUBLE)"
            f" - CAST({s}{i} AS DOUBLE)/CAST({n} AS DOUBLE))"
        )
        terms.append(f"{d} * {d}")
    return "SQRT(" + " + ".join(terms) + ")"


@register(
    "q79_embedding_outliers",
    tags=("similarity", "embeddings", "outliers", "curation"),
    oracle=f"""
        WITH {_PER_LABEL_SUMS_SQL},
        dist AS (
          SELECT e.vec_id, e.label,
                 {_point_dist_sql('e.embedding[{i}]', 'p.s', 'p.n')} AS dist
          FROM embeddings e JOIN per p ON e.label = p.label
        ),
        ranked AS (
          SELECT vec_id, label, dist,
                 ROW_NUMBER() OVER (PARTITION BY label
                                    ORDER BY dist DESC, vec_id ASC) AS rn
          FROM dist
        )
        SELECT r.label, r.vec_id, r.dist, r.rn, d.n_chars
        FROM ranked r JOIN documents d ON r.vec_id = d.doc_id
        WHERE r.rn <= {OUTLIER_K}
    """,
)
def q79_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{10} vectors per label by L2 distance to their own label centroid
    (SemDeDup-style prototypicality pruning: far-from-centroid points are
    the mislabeled / off-domain / junk candidates), joined to the source
    document's length.

    Scale shape: the 10×64 centroid table broadcasts into the corpus scan
    (one pass, per-row fixed-order distance expression — deterministic, so
    the oracle replays it bit-exactly); top-K per label is a window over
    the label partitioning; the K×|labels| outlier rows then broadcast
    into the documents scan. The only corpus-sized shuffle is the window's
    label repartition — and at production scale that window would be
    replaced by the same per-partition top-K + merge the engine already
    uses for TakeOrderedAndProject.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # r16: one parsed SQL expression per agg column (see q55) — drops
    # ~1.4s of py4j plan-build round-trips; bit-identical
    dec = (
        "SUM(CAST(ROUND(CAST(element_at(embedding, {i}) AS DOUBLE), 6)"
        " AS DECIMAL(18,6))) AS s{i}"
    )
    per = emb.groupBy("label").agg(
        F.expr("COUNT(1) AS n"),
        *[F.expr(dec.format(i=i)) for i in range(1, _DRIFT_DIM + 1)],
    )
    dist = (
        emb.join(F.broadcast(per), "label")
        .withColumn(
            "dist", F.expr(_point_dist_sql("element_at(embedding, {i})", "s", "n"))
        )
        .select("vec_id", "label", "dist")
    )
    ranked = (
        dist.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("label").orderBy(F.col("dist").desc(), F.col("vec_id").asc())
            ),
        )
        .filter(F.col("rn") <= OUTLIER_K)
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        docs.join(F.broadcast(ranked), docs.doc_id == ranked.vec_id)
        .select("label", "vec_id", "dist", "rn", "n_chars")
    )


# ---------------------------------------------------------------------------
# q159 — int8 embedding quantization audit (vector-compression error card)
# ---------------------------------------------------------------------------
QUANT_LEVELS = 127  # symmetric int8: q = round(x * 127 / max|x|)
ERR_UNIT = 10**9  # abs reconstruction error quantized to 1e-9 units


@register(
    "q159_embedding_quantization",
    tags=("similarity", "quantization", "vector"),
    bench=True,
    oracle=f"""
        WITH s AS (
          SELECT vec_id, label, embedding,
                 list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) AS scale
          FROM embeddings
        ),
        e AS (
          SELECT vec_id, label, scale,
                 list_transform(embedding, x ->
                   CAST(round(abs(CAST(x AS DOUBLE)
                       - round(CAST(x AS DOUBLE) * {QUANT_LEVELS} / scale)
                         * scale / {QUANT_LEVELS}) * {ERR_UNIT}) AS BIGINT)
                 ) AS err_units
          FROM s
          WHERE scale > 0
        )
        SELECT label,
               COUNT(*) AS n_vecs,
               CAST(SUM(list_sum(err_units)) AS BIGINT) AS total_err_units,
               CAST(MAX(list_max(err_units)) AS BIGINT) AS max_err_units
        FROM e
        GROUP BY label
    """,
)
def q159_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit per label: total and worst-case
    reconstruction error if embeddings were stored as int8 — the
    compression-decision card for a vector index (4× smaller, how much
    recall risk?).

    All map-side: per-vector scale (max |x|), per-element quantize →
    dequantize → error, with the error immediately integer-quantized to
    1e-9 units so the per-label sums are exact bigints (raw double sums
    would be shuffle-order dependent). round() is half-away-from-zero in
    both engines; float→double widening is exact. One hash aggregation to
    10 rows; zero joins, zero shuffles before the final group. All-zero
    vectors are excluded (scale = 0 has no quantization to audit) — that
    also keeps the division total under ANSI.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").alias(
            "scale"
        ),
    ).where(F.col("scale") > 0)
    e = s.select(
        "label",
        F.expr(
            f"""transform(embedding, x ->
                 CAST(round(abs(CAST(x AS DOUBLE)
                     - round(CAST(x AS DOUBLE) * {QUANT_LEVELS} / scale)
                       * scale / {QUANT_LEVELS}) * {ERR_UNIT}) AS BIGINT))"""
        ).alias("err_units"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.expr("aggregate(err_units, 0L, (a, b) -> a + b)"))
        .cast("bigint")
        .alias("total_err_units"),
        F.max(F.expr("array_max(err_units)")).cast("bigint").alias("max_err_units"),
    )


# ---------------------------------------------------------------------------
# q166 — distributed power iteration: top eigenvector of the Gram matrix
# ---------------------------------------------------------------------------
_PI_DIM = 64
_PI_SCALE = 1000  # embedding quantization units AND eigenvector scale

# per-element contribution e*s, exact at any scale: widen to decimal BEFORE
# the product so the 38-digit result can't overflow a bigint intermediate
_PI_PROD = "CAST(CAST(e AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)) AS DECIMAL(38,0))"


@register(
    "q166_power_iteration",
    tags=("similarity", "linalg", "iterative"),
    bench=True,
    oracle=f"""
        WITH x AS (
          SELECT list_transform(embedding,
                   v -> CAST(round(CAST(v AS DOUBLE) * {_PI_SCALE}) AS BIGINT))
                 AS xq
          FROM embeddings
        ),
        e0 AS (
          SELECT generate_subscripts(xq, 1) AS dim, unnest(xq) AS e,
                 {_PI_SCALE} * list_sum(xq) AS s
          FROM x
        ),
        w1 AS (SELECT dim, SUM(e * s) AS w FROM e0 GROUP BY dim),
        m1 AS (SELECT CAST(MAX(ABS(w)) AS DOUBLE) AS m FROM w1),
        v1 AS (
          SELECT list(CAST(FLOOR(CAST(w AS DOUBLE) / m * {_PI_SCALE}) AS BIGINT)
                      ORDER BY dim) AS v
          FROM w1, m1
        ),
        s1 AS (
          SELECT x.xq,
                 list_sum(list_transform(range(1, {_PI_DIM + 1}),
                          i -> x.xq[i] * v1.v[i])) AS s
          FROM x, v1
        ),
        e1 AS (
          SELECT generate_subscripts(xq, 1) AS dim, unnest(xq) AS e, s
          FROM s1
        ),
        w2 AS (SELECT dim, SUM(e * s) AS w FROM e1 GROUP BY dim),
        m2 AS (SELECT CAST(MAX(ABS(w)) AS DOUBLE) AS m FROM w2)
        SELECT CAST(dim AS INTEGER) AS dim,
               CAST(FLOOR(CAST(w AS DOUBLE) / m * {_PI_SCALE}) AS BIGINT) AS weight
        FROM w2, m2
    """,
)
def q166_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top eigenvector of the embeddings Gram matrix XᵀX by two
    distributed power iterations — the dominant principal direction of
    the corpus, computed matrix-free (v' = Xᵀ(Xv)) without collecting a
    vector to the driver.

    Each iteration is one map-side pass (per-row dot product s_i = x_i·v
    against the broadcast 64-term vector) then a posexplode →
    groupBy(dim) aggregation: partial aggregation reduces every
    partition to 64 rows before the shuffle, so a 100 TB corpus costs
    two scans and two 64-row shuffles. The relation-shaped aggregate
    (one narrow DECIMAL(38,0) sum column) keeps whole-stage codegen
    small — a 64-column wide aggregate of DECIMAL(38,0) blows the JVM's
    64 KB method limit and falls back to interpreted mode.

    Exactness: embeddings quantize to 1e-3 integer units (round() is
    half-away in both engines), per-element products widen to decimal
    BEFORE multiplying (no bigint overflow at any scale; DuckDB's twin
    sums in HUGEINT), and the between-iteration renormalization floors
    one deterministic double ratio against max |w| — no sqrt, no drift,
    bit-identical on any engine or partitioning. Convergence is
    declared, not tested: two iterations from the all-ones start (the
    q152 fixed-iteration discipline that keeps the oracle an unrolled
    replay). On this corpus the Gram spectrum is nearly flat (λ1/λ2 ≈
    1.07), so full direction isolation would need ~70 iterations — the
    iteration count is the knob; the per-iteration plan shape is the
    contract, and tests pin exact agreement with a numpy simulation of
    the same integer algorithm plus monotone Rayleigh improvement.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # lazy cut: every iteration's map-side pass re-reads the quantized
    # matrix (audit: 6 embedding scans/plan uncut)
    x = emb.select(
        F.expr(
            f"transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * {_PI_SCALE})"
            " AS BIGINT))"
        ).alias("xq")
    ).localCheckpoint(eager=False)

    def wsum(sdf):
        e = sdf.select("s", F.posexplode("xq").alias("pos", "e"))
        return e.groupBy((F.col("pos") + 1).alias("dim")).agg(
            F.sum(F.expr(_PI_PROD)).alias("w")
        )

    def normalize(wdf):
        m = wdf.agg(F.max(F.abs(F.col("w"))).cast("double").alias("m"))
        return wdf.crossJoin(F.broadcast(m)).select(
            "dim",
            F.floor(F.col("w").cast("double") / F.col("m") * _PI_SCALE)
            .cast("bigint")
            .alias("weight"),
        )

    s0 = x.select(
        "xq",
        (
            F.lit(_PI_SCALE)
            * F.expr("aggregate(xq, CAST(0 AS BIGINT), (acc, e) -> acc + e)")
        ).alias("s"),
    )
    v1 = normalize(wsum(s0)).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, weight))), p -> p.weight)"
        ).alias("v")
    )
    s1 = x.crossJoin(F.broadcast(v1)).select(
        "xq",
        F.expr(
            "aggregate(zip_with(xq, v, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
        ).alias("s"),
    )
    return normalize(wsum(s1)).select(F.col("dim").cast("int").alias("dim"), "weight")


# ---------------------------------------------------------------------------
# q174 — grid-density clustering over the embedding plane (DBSCAN-style)
# ---------------------------------------------------------------------------
_DC_H = 10  # cells per unit: grid pitch 0.1 in embedding space
_DC_MIN_PTS = 5  # a cell is dense at this occupancy


@register(
    "q174_density_clusters",
    tags=("similarity", "clustering", "iterative"),
    oracle=f"""
        WITH RECURSIVE cells AS (
          SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {_DC_H}) AS BIGINT) AS a,
                 CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * {_DC_H}) AS BIGINT) AS b,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM embeddings
          GROUP BY 1, 2
          HAVING COUNT(*) >= {_DC_MIN_PTS}
        ),
        ids AS (
          SELECT a, b, n,
                 CAST((a + 1000) * 100000 + (b + 1000) AS BIGINT) AS id
          FROM cells
        ),
        e AS (
          SELECT x.id AS src, y.id AS dst
          FROM ids x JOIN ids y
            ON abs(x.a - y.a) <= 1 AND abs(x.b - y.b) <= 1 AND x.id < y.id
        ),
        sym AS (
          SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
        ),
        reach AS (
          SELECT src AS node, src AS r FROM sym
          UNION
          SELECT e2.dst AS node, reach.r AS r
          FROM reach JOIN sym e2 ON e2.src = reach.node
        ),
        comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node)
        SELECT i.a AS cell_a, i.b AS cell_b, i.n AS n_points,
               CAST(COALESCE(c.c, i.id) AS BIGINT) AS cluster_id
        FROM ids i LEFT JOIN comp c ON i.id = c.node
    """,
)
def q174_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density clustering of the embedding corpus projected
    onto its first two dimensions: occupancy-grid cells above MIN_PTS are
    "dense", and 8-adjacent dense cells merge into clusters via the
    engine's connected-components ladder (q45's machinery on a spatial
    graph instead of a Jaccard graph).

    The scale story is the grid: points reduce map-side to the CELL
    relation (bounded by the embedding-space extent / pitch, not the
    corpus size), the adjacency self-join runs on dense cells only, and
    the iterative min-label propagation touches the dense-cell graph —
    so a 100 TB corpus costs one scan plus work proportional to occupied
    space. Isolated dense cells keep their own id as cluster (coalesce
    after a left join — the CC ladder only sees cells with neighbors).
    Oracle replays the components as a recursive closure (q45's idiom).

    r16: the component pass runs driver-side on the collected adjacency
    list (the q293/q236 allowance pattern) — the dense-cell graph is
    GRID-bounded ((2·{_DC_H}+1)² cells for unit-range embeddings; 34
    dense cells at sf0.1), and the previous distributed CC ladder paid
    58 driver jobs of pure fixed cost on it (profile: 5.0s wall with no
    stage over 0.13s). Guarded by the same ceiling + LIMIT sentinel;
    min-label union-find on exact integers is bit-identical to the
    ladder. `connected_components` remains the scale path for data-sized
    graphs (q45/q57/q76).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            F.floor(F.element_at("embedding", 1).cast("double") * _DC_H)
            .cast("bigint")
            .alias("a"),
            F.floor(F.element_at("embedding", 2).cast("double") * _DC_H)
            .cast("bigint")
            .alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .where(F.col("n") >= _DC_MIN_PTS)
    )
    ids = cells.select(
        "a",
        "b",
        "n",
        ((F.col("a") + 1000) * 100000 + (F.col("b") + 1000))
        .cast("bigint")
        .alias("id"),
    )
    x = ids.alias("x")
    y = ids.alias("y")
    edges = x.join(
        y,
        (F.abs(F.col("x.a") - F.col("y.a")) <= 1)
        & (F.abs(F.col("x.b") - F.col("y.b")) <= 1)
        & (F.col("x.id") < F.col("y.id")),
    ).select(F.col("x.id").alias("src"), F.col("y.id").alias("dst"))
    # Self-enforcing collect bound (the q293 guard): the dense-cell count
    # is grid-bounded, and 8-adjacency with id<id caps edges at 4·cells.
    n_cells = ids.count()
    _CELL_CEILING = 10000  # ~20x the theoretical unit-range grid (441)
    if n_cells > _CELL_CEILING:
        raise RuntimeError(
            f"q174: dense-cell count ({n_cells}) exceeds the grid ceiling "
            f"({_CELL_CEILING}) — the cell relation is no longer "
            "grid-bounded; use the distributed connected_components path"
        )
    bound = 4 * n_cells + 1
    erows = edges.limit(bound).collect()
    if len(erows) >= bound:
        raise RuntimeError(
            f"q174: adjacency collect exceeded the 8-adjacency bound "
            f"(≥{bound} edges for {n_cells} dense cells) — use the "
            "distributed connected_components path"
        )
    parent: dict = {}

    def find(u: int) -> int:
        while parent.get(u, u) != u:
            parent[u] = parent.get(parent[u], parent[u])
            u = parent[u]
        return u

    for r in erows:
        ra, rb = find(r.src), find(r.dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes: set = set()
    for r in erows:
        nodes.add(r.src)
        nodes.add(r.dst)
    comp_rows = [(int(u), int(find(u))) for u in sorted(nodes)]
    comp = literal_df(spark, comp_rows, "node bigint, component bigint")
    return (
        ids.join(F.broadcast(comp), ids.id == comp.node, "left")
        .select(
            F.col("a").alias("cell_a"),
            F.col("b").alias("cell_b"),
            F.col("n").alias("n_points"),
            F.coalesce(F.col("component"), F.col("id"))
            .cast("bigint")
            .alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# q194 — k-means (Lloyd's algorithm, KM_ITERS synchronous rounds, K=4)
# ---------------------------------------------------------------------------
KM_K = 4            # initial centroids = vectors 0..3
KM_ITERS = 2        # assignment rounds (centroids update between them)
KM_SCALE = 1_000_000
KM_OFF = 2_000_000  # shift quantized coords positive: floor-division of the
                    # centroid mean is then identical in Spark (`div`) and
                    # DuckDB (`//`), which disagree on negative operands


def _km_oracle() -> str:
    """Unrolled KM_ITERS-round Lloyd's in long (vec, dim, value) format:
    integer-quantized shifted coordinates, BIGINT squared distances,
    floor-divided centroid means — bit-identical across engines."""
    prev_c = "c0"
    blocks = []
    for k in range(KM_ITERS):
        blocks.append(f"""
        a{k} AS (
          SELECT e.vec_id, c.j, SUM((e.v - c.v) * (e.v - c.v)) AS d2
          FROM e JOIN {prev_c} c ON e.i = c.i
          GROUP BY 1, 2
        ),
        m{k} AS (
          SELECT vec_id, j AS cluster, CAST(d2 AS BIGINT) AS d2
          FROM (
            SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY d2, j) AS rk
            FROM a{k}
          ) t WHERE rk = 1
        )""")
        if k < KM_ITERS - 1:
            blocks.append(f"""
        c{k + 1} AS (
          SELECT m{k}.cluster AS j, e.i,
                 CAST(SUM(e.v) // COUNT(*) AS BIGINT) AS v
          FROM e JOIN m{k} ON e.vec_id = m{k}.vec_id
          GROUP BY 1, 2
        )""")
            prev_c = f"c{k + 1}"
    last = KM_ITERS - 1
    return f"""
        WITH e AS (
          SELECT vec_id, i,
                 CAST(round(CAST(embedding[i] AS DOUBLE) * {KM_SCALE})
                      AS BIGINT) + {KM_OFF} AS v
          FROM embeddings, LATERAL (
            SELECT unnest(range(1, len(embedding) + 1)) AS i
          ) idx
        ),
        c0 AS (SELECT vec_id AS j, i, v FROM e WHERE vec_id < {KM_K}),
        {",".join(blocks)}
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d2 FROM m{last}
    """


@register(
    "q194_kmeans_lloyd",
    tags=("similarity", "clustering", "iterative"),
    bench=True,
    oracle=_km_oracle(),
)
def q194_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus: KM_ITERS synchronous Lloyd
    rounds from a deterministic seed (vectors 0..KM_K-1), emitting each
    vector's final cluster and squared distance.

    The distributed Lloyd shape: centroids are SCALAR state (K x dim
    integers), collected driver-side and re-broadcast into the
    assignment expression each round — the IVF-centroid discipline
    (similarity.py q54), so assignment is a map-side zip_with/aggregate
    fold with NO join and no shuffle; the only shuffle per round is the
    centroid update (posexplode to (cluster, dim) -> hash agg with
    map-side partials, K x dim output rows). Coordinates quantize to
    shifted positive BIGINTs so squared distances are exact and the
    floor-divided centroid mean is engine-identical (Spark `div` vs
    DuckDB `//` disagree on negatives — the shift sidesteps it). At
    100 TB this is exactly MLlib's k-means plan: broadcast centroids,
    map-side assignment, one agg per iteration."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double)"
            f" * {KM_SCALE}) as bigint) + {KM_OFF})"
        ).alias("vq"),
    )

    def assign(
        df: DataFrame, cents: list[tuple[int, list[int]]]
    ) -> DataFrame:
        # cents carries REAL cluster ids: if a cluster empties out, the
        # survivors keep their labels (and the oracle, which derives the
        # next round's centroids from the groups actually present, stays
        # in lockstep) instead of being silently renumbered
        structs = []
        for j, c in cents:
            arr = "array(" + ",".join(f"{x}L" for x in c) + ")"
            d2 = (
                f"aggregate(zip_with(vq, {arr}, (a, b) -> (a - b) * (a - b)),"
                f" 0L, (acc, v) -> acc + v)"
            )
            structs.append(f"struct({d2} AS d2, {j}L AS j)")
        best = f"array_min(array({','.join(structs)}))"
        return df.select(
            "vec_id",
            "vq",
            F.expr(f"{best}.j").alias("cluster"),
            F.expr(f"{best}.d2").alias("d2"),
        )

    cents = [
        (r.vec_id, r.vq)
        for r in emb.where(F.col("vec_id") < KM_K)
        .orderBy("vec_id")
        .collect()
    ]
    dim = len(cents[0][1])
    assigned = assign(emb, cents)
    for _ in range(KM_ITERS - 1):
        upd = (
            assigned.select(
                "cluster", F.posexplode("vq").alias("i", "v")
            )
            .groupBy("cluster", "i")
            .agg(F.expr("sum(v) div count(1)").alias("cv"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cluster.setdefault(r.cluster, {})[r.i] = r.cv
        cents = [
            (j, [by_cluster[j][i] for i in range(dim)])
            for j in sorted(by_cluster)
        ]
        assigned = assign(emb, cents)
    return assigned.select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster"), "d2"
    )


# ---------------------------------------------------------------------------
# q204 — distributed Gram matrix (X^T X over the embedding corpus)
# ---------------------------------------------------------------------------
GRAM_SCALE = 1000  # the q166 quantization: integer units, exact products


@register(
    "q204_gram_matrix",
    tags=("similarity", "linalg"),
    bench=True,
    oracle=f"""
        WITH x AS (
          SELECT vec_id,
                 list_transform(embedding,
                   v -> CAST(round(CAST(v AS DOUBLE) * {GRAM_SCALE})
                        AS BIGINT)) AS xq
          FROM embeddings
        ),
        cells AS (
          SELECT i, j, xq[i] * xq[j] AS p
          FROM x,
          LATERAL (SELECT unnest(range(1, len(xq) + 1)) AS i) ii,
          LATERAL (SELECT unnest(range(1, len(xq) + 1)) AS j) jj
          WHERE i <= j
        )
        SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
               CAST(SUM(p) AS BIGINT) AS g
        FROM cells GROUP BY 1, 2
    """,
)
def q204_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gram matrix X^T X of the (quantized) embedding corpus — upper
    triangle as (i, j, value) cells. THE reduction underlying PCA /
    covariance / linear regression at scale (q166's power iteration
    consumes exactly this product implicitly; q141 is its statistical
    twin): dim x dim output, corpus touched once.

    Distributed shape: each row contributes its outer-product upper
    triangle map-side (a bounded dim²/2-way explode), and ONE hash
    aggregation with map-side partial sums reduces to dim(dim+1)/2
    cells — at 100 TB the combiner does nearly all the work and the
    shuffle moves only per-partition partial matrices (Spark's
    treeAggregate in MLlib is this same plan). Integer quantized units
    make every product and sum exact."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.expr(
            f"transform(embedding, v -> cast(round(cast(v as double)"
            f" * {GRAM_SCALE}) as bigint))"
        ).alias("xq")
    )
    cells = (
        emb.select(
            "xq", F.posexplode("xq").alias("i0", "vi")
        )
        .select(
            (F.col("i0") + 1).alias("i"),
            "vi",
            F.posexplode("xq").alias("j0", "vj"),
        )
        .where(F.col("j0") + 1 >= F.col("i"))
        .select(
            "i",
            (F.col("j0") + 1).alias("j"),
            (F.col("vi") * F.col("vj")).alias("p"),
        )
    )
    return cells.groupBy(
        F.col("i").cast("int").alias("i"), F.col("j").cast("int").alias("j")
    ).agg(F.sum("p").cast("bigint").alias("g"))


# ---------------------------------------------------------------------------
# q209 — ANN index quality: recall@k of the LSH retriever vs exact top-k
# ---------------------------------------------------------------------------
@register(
    "q209_ann_recall",
    tags=("similarity", "ann", "evaluation"),
    oracle=f"""
        WITH exact AS (
          {COSINE_BASE_DUCK}
          SELECT q_vec, n_vec FROM topk WHERE rn <= {TOP_K}
        ),
        lsh AS (
          {_q51_oracle()}
        )
        SELECT e.q_vec,
               CAST(COUNT(l.n_vec) AS BIGINT) AS n_hits,
               CAST(COUNT(l.n_vec) AS DOUBLE) / {TOP_K} AS recall_at_k
        FROM exact e
        LEFT JOIN lsh l ON e.q_vec = l.q_vec AND e.n_vec = l.n_vec
        GROUP BY e.q_vec
    """,
)
def q209_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@{TOP_K} of the LSH retriever
    (q51) against the exact cosine top-{TOP_K} (q50), per query — the
    acceptance gate every ANN index ships with (you don't deploy a
    bucketed index without measuring what the buckets lose).

    Pure composition of the two retrievers' plans: both candidate lists
    are k-row-per-query relations, so the evaluation join is trivially
    small regardless of corpus size — at 100 TB you evaluate recall on
    a sampled query set exactly this way, with the exact side computed
    once offline. recall = hits/k is an exact-integer division."""
    exact = q50_cosine_topk(spark, sf_dir).select("q_vec", "n_vec")
    lsh = q51_ann_lsh(spark, sf_dir).select(
        F.col("q_vec").alias("lq"), F.col("n_vec").alias("ln")
    )
    return (
        exact.join(
            lsh,
            (F.col("q_vec") == F.col("lq")) & (F.col("n_vec") == F.col("ln")),
            "left",
        )
        .groupBy("q_vec")
        .agg(
            F.count("ln").cast("bigint").alias("n_hits"),
            (F.count("ln").cast("double") / TOP_K).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# q271 — Matryoshka truncation recall: do 16 of 64 dims retrieve the same?
# ---------------------------------------------------------------------------
# The storage/latency question for modern embedding stores: serving the
# first 16 dimensions costs a quarter of the memory — how much of the
# full-precision top-10 does truncated retrieval keep? For each of 20
# deterministic query vectors: recall@10 = |top10_full ∩ top10_trunc|/10.
# Both rankings are exact brute-force cosine (q50's oracle-baseline role)
# computed in ONE pass — the truncated dot/norm reuses the first 16
# slices of the same zipped products, so the comparison is self-
# consistent. Ties break on vec_id (deterministic rank).
_TRUNC_DIMS = 16
_TRUNC_K = 10
_TRUNC_QUERIES = 20  # vec_id % 97 == 0 -> deterministic query set


@register(
    "q271_truncation_recall",
    tags=("similarity", "embedding", "evaluation"),
    oracle=f"""
        WITH q AS (
          SELECT vec_id AS qid, embedding AS qe FROM embeddings
          WHERE vec_id % 97 = 0
          ORDER BY vec_id LIMIT {_TRUNC_QUERIES}
        ),
        pairs AS (
          SELECT q.qid, e.vec_id,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * q.qe[i])) AS dot_f,
                 sqrt(list_sum(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * x))) AS nrm_f,
                 sqrt(list_sum(list_transform(q.qe,
                     x -> CAST(x AS DOUBLE) * x))) AS qn_f,
                 list_sum(list_transform(range(1, {_TRUNC_DIMS} + 1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * q.qe[i])) AS dot_t,
                 sqrt(list_sum(list_transform(range(1, {_TRUNC_DIMS} + 1),
                     i -> CAST(e.embedding[i] AS DOUBLE) * e.embedding[i]))) AS nrm_t,
                 sqrt(list_sum(list_transform(range(1, {_TRUNC_DIMS} + 1),
                     i -> CAST(q.qe[i] AS DOUBLE) * q.qe[i]))) AS qn_t
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.qid
        ),
        rf AS (
          SELECT qid, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY dot_f / (nrm_f * qn_f) DESC, vec_id) AS r
          FROM pairs
        ),
        rt AS (
          SELECT qid, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY dot_t / (nrm_t * qn_t) DESC, vec_id) AS r
          FROM pairs
        )
        SELECT rf.qid AS query_id,
               CAST(COUNT(rt.vec_id) AS BIGINT) AS n_common,
               CAST(COUNT(rt.vec_id) AS DOUBLE) / {_TRUNC_K} AS recall_at_10
        FROM rf LEFT JOIN rt
          ON rf.qid = rt.qid AND rf.vec_id = rt.vec_id AND rt.r <= {_TRUNC_K}
        WHERE rf.r <= {_TRUNC_K}
        GROUP BY rf.qid
    """,
)
def q271_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 16-dim truncated cosine retrieval against the full
    64-dim ranking, per query vector (see block comment — one zipped
    pass, both rankings from the same products)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") % 97 == 0)
        .orderBy("vec_id")
        .limit(_TRUNC_QUERIES)
        .selectExpr("vec_id AS qid", "embedding AS qe")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .selectExpr(
            "qid",
            "vec_id",
            "aggregate(zip_with(embedding, qe, (a, b) ->"
            " CAST(a AS DOUBLE) * b), CAST(0 AS DOUBLE), (s, x) -> s + x)"
            " AS dot_f",
            "sqrt(aggregate(embedding, CAST(0 AS DOUBLE),"
            " (s, x) -> s + CAST(x AS DOUBLE) * x)) AS nrm_f",
            "sqrt(aggregate(qe, CAST(0 AS DOUBLE),"
            " (s, x) -> s + CAST(x AS DOUBLE) * x)) AS qn_f",
            f"aggregate(zip_with(slice(embedding, 1, {_TRUNC_DIMS}),"
            f" slice(qe, 1, {_TRUNC_DIMS}), (a, b) -> CAST(a AS DOUBLE) * b),"
            " CAST(0 AS DOUBLE), (s, x) -> s + x) AS dot_t",
            f"sqrt(aggregate(slice(embedding, 1, {_TRUNC_DIMS}),"
            " CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE) * x))"
            " AS nrm_t",
            f"sqrt(aggregate(slice(qe, 1, {_TRUNC_DIMS}),"
            " CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE) * x))"
            " AS qn_t",
        )
    )
    wf = W.partitionBy("qid").orderBy(
        F.expr("dot_f / (nrm_f * qn_f)").desc(), "vec_id"
    )
    wt = W.partitionBy("qid").orderBy(
        F.expr("dot_t / (nrm_t * qn_t)").desc(), "vec_id"
    )
    rf = pairs.select(
        "qid", "vec_id", F.row_number().over(wf).alias("r")
    ).where(F.col("r") <= _TRUNC_K)
    rt = pairs.select(
        "qid", "vec_id", F.row_number().over(wt).alias("r")
    ).where(F.col("r") <= _TRUNC_K)
    return (
        rf.join(
            rt.selectExpr("qid", "vec_id", "r AS rt_r"),
            ["qid", "vec_id"],
            "left",
        )
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count("rt_r").cast("bigint").alias("n_common"),
            (F.count("rt_r").cast("double") / _TRUNC_K).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# q274 — nearest-centroid classification (class prototypes from embeddings)
# ---------------------------------------------------------------------------
# The strongest cheap baseline for embedding classification: mean-pool
# each label's vectors into a prototype, assign every vector to its
# nearest prototype by cosine, report per-label accuracy — the
# Rocchio/nearest-class-mean classifier. Prototypes are computed by
# per-dimension exact means (posexplode → DECIMAL sums per (label, dim) —
# order-free — → ordered reassembly, q224's discipline); assignment is a
# broadcast of the tiny prototype matrix; the argmin uses the packed
# string key (q269) so ties are engine-identical.
@register(
    "q274_nearest_centroid",
    tags=("embedding", "classification", "baseline"),
    oracle="""
        WITH dims AS (
          SELECT label, u.i AS dim,
                 CAST(e.embedding[u.i] AS DOUBLE) AS x
          FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
        ),
        proto AS (
          SELECT label, dim,
                 CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                   AS c
          FROM dims GROUP BY label, dim
        ),
        scored AS (
          SELECT e.vec_id, e.label AS true_label, p.label AS cand,
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                     i -> CAST(e.embedding[i] AS DOUBLE)
                          * list_extract(p.cs, i))) /
                 (sqrt(list_sum(list_transform(e.embedding,
                     x -> CAST(x AS DOUBLE) * x)))
                  * sqrt(list_sum(list_transform(p.cs, x -> x * x)))) AS cos
          FROM embeddings e
          CROSS JOIN (
            SELECT label, list(c ORDER BY dim) AS cs FROM proto GROUP BY label
          ) p
        ),
        assigned AS (
          SELECT vec_id, true_label,
                 max_by(cand,
                        concat(lpad(CAST(CAST(ROUND(1000000000.0 * (cos + 1))
                          AS BIGINT) AS VARCHAR), 12, '0'), '|', cand))
                   AS pred
          FROM scored GROUP BY vec_id, true_label
        )
        SELECT true_label AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS accuracy
        FROM assigned GROUP BY true_label
    """,
)
def q274_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) accuracy per label over the embedding
    table — exact-mean prototypes, broadcast assignment, packed-key
    argmax (see block comment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select("label", (F.col("dim0") + 1).alias("dim"), F.col("x").cast("double").alias("x"))
    proto = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    proto_arr = proto.groupBy(F.col("label").alias("cand")).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
        ).alias("cs")
    )
    scored = emb.crossJoin(F.broadcast(proto_arr)).selectExpr(
        "vec_id",
        "label AS true_label",
        "cand",
        "aggregate(zip_with(embedding, cs, (a, b) -> CAST(a AS DOUBLE) * b),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x)"
        " / (sqrt(aggregate(embedding, CAST(0 AS DOUBLE),"
        "          (s, x) -> s + CAST(x AS DOUBLE) * x))"
        "    * sqrt(aggregate(cs, CAST(0 AS DOUBLE),"
        "            (s, x) -> s + x * x))) AS cos",
    )
    assigned = scored.groupBy("vec_id", "true_label").agg(
        F.expr(
            "max_by(cand, concat(lpad(CAST(CAST(ROUND(1000000000.0"
            " * (cos + 1)) AS BIGINT) AS STRING), 12, '0'), '|', cand))"
        ).alias("pred")
    )
    return assigned.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(F.when(F.col("pred") == F.col("true_label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        (
            F.sum(
                F.when(F.col("pred") == F.col("true_label"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# q300 — centroid silhouette: how separable are the embedding classes?
# ---------------------------------------------------------------------------
# The cluster-validation metric the clustering family (q194 Lloyd, q174
# density, q274 prototypes) reports to: per vector, a = distance to its
# own class centroid, b = distance to the nearest other centroid,
# s = (b − a)/max(a, b). Mean s per class says which labels are coherent
# in embedding space and which bleed — negative-share flags the bleeders.
# Centroids reuse q274's exact per-dimension DECIMAL means; distances are
# one zip_with pass against the broadcast centroid matrix; the nearest-
# other argmin uses the packed string key (q269) and the mean is
# nano-quantized (q231). Euclidean this time (silhouette's native
# metric), all from identical IEEE trees.
@register(
    "q300_class_silhouette",
    tags=("embedding", "clustering", "evaluation"),
    oracle="""
        WITH dims AS (
          SELECT label, u.i AS dim, CAST(e.embedding[u.i] AS DOUBLE) AS x
          FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
        ),
        proto AS (
          SELECT label, dim,
                 CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
          FROM dims GROUP BY label, dim
        ),
        pmat AS (
          SELECT label AS cand, list(c ORDER BY dim) AS cs
          FROM proto GROUP BY label
        ),
        dist AS (
          SELECT e.vec_id, e.label, p.cand,
                 sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - list_extract(p.cs, i))
                          * (CAST(e.embedding[i] AS DOUBLE)
                             - list_extract(p.cs, i))))) AS d
          FROM embeddings e CROSS JOIN pmat p
        ),
        ab AS (
          SELECT vec_id, label,
                 MIN(CASE WHEN cand = label THEN d END) AS a,
                 MIN(CASE WHEN cand <> label THEN d END) AS b
          FROM dist GROUP BY vec_id, label
        ),
        s AS (
          SELECT label,
                 (b - a) / greatest(a, b) AS sil
          FROM ab
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(CAST(ROUND(1000000000.0 * sil) AS BIGINT)) AS DOUBLE)
                 / (1000000000.0 * COUNT(*)) AS mean_silhouette,
               CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS negative_share
        FROM s GROUP BY label
    """,
)
def q300_class_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per embedding class — exact-mean
    prototypes, one broadcast distance pass, nano-quantized means (see
    block comment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    proto = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    pmat = proto.groupBy(F.col("label").alias("cand")).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
        ).alias("cs")
    )
    dist = emb.crossJoin(F.broadcast(pmat)).selectExpr(
        "vec_id",
        "label",
        "cand",
        "sqrt(aggregate(zip_with(embedding, cs,"
        " (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x)) AS d",
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("cand") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cand") != F.col("label"), F.col("d"))).alias("b"),
    )
    s = ab.selectExpr("label", "(b - a) / greatest(a, b) AS sil")
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        (
            F.sum(F.expr("CAST(ROUND(1000000000.0 * sil) AS BIGINT)")).cast(
                "double"
            )
            / (1000000000.0 * F.count(F.lit(1)))
        ).alias("mean_silhouette"),
        (
            F.sum(F.when(F.col("sil") < 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("negative_share"),
    )
