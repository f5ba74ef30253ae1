"""Text-analysis operators over `documents` (SURVEY.md M3).

Language breakdown, per-document token statistics, quality scoring,
tf-idf top terms, heuristic language ID, and winnowing fingerprints —
the text-side toolkit of an LLM training-data pipeline.

Scale notes:
- Per-document stats are narrow map-side expressions (split/filter/size) —
  no shuffle at all, whole-stage codegen end to end.
- tf-idf is two hash aggregations over the exploded token relation plus a
  broadcast of the (tiny) document-frequency table.
- Nothing here drops to Python; every string op is a Catalyst built-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_api_spark.functions.numeric import davg, sql_davg
from docling_api_spark.operators.similarity import (
    DOT_DUCK,
    DOT_SPARK,
    NORM_DUCK,
    NORM_SPARK,
)
from docling_api_spark.plans.registry import register
from docling_api_spark.tables import literal_df, load_table

STOPWORDS = ("a", "the", "of", "and", "in", "to", "is", "on")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


# ---------------------------------------------------------------------------
# q60 — corpus breakdown by language
# ---------------------------------------------------------------------------
@register(
    "q60_lang_breakdown",
    tags=("text", "agg"),
    oracle=f"""
        SELECT
          lang,
          COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          {sql_davg('n_chars', 'avg_chars')},
          MIN(n_chars) AS min_chars,
          MAX(n_chars) AS max_chars,
          COUNT(DISTINCT source) AS n_sources
        FROM documents
        GROUP BY lang
    """,
)
def q60_lang_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition per language label."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        davg("n_chars", "avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# q61 — per-document token statistics
# ---------------------------------------------------------------------------
@register(
    "q61_token_stats",
    tags=("text", "tokens"),
    oracle="""
        SELECT
          doc_id,
          CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
          CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq_tokens,
          CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_token_chars,
          CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / len(string_split(text, ' ')) AS avg_token_len,
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents
    """,
)
def q61_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token counts, distinct-token counts, and length ratios.

    Pure narrow projection — zero shuffle; the canonical "token counting"
    pass of a training-data pipeline.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stripped_len = F.length(F.regexp_replace("text", " ", ""))
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_uniq_tokens"),
        stripped_len.cast("int").alias("n_token_chars"),
        (stripped_len.cast("double") / F.size(toks)).alias("avg_token_len"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("uniq_ratio"),
    )


# ---------------------------------------------------------------------------
# q62 — document quality scoring
# ---------------------------------------------------------------------------
@register(
    "q62_quality_score",
    tags=("text", "quality"),
    bench=True,
    oracle=f"""
        WITH t AS (
          SELECT
            doc_id, lang,
            string_split(text, ' ') AS toks,
            CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
          FROM documents
        )
        SELECT
          doc_id,
          lang,
          n_tokens,
          CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / n_tokens
            AS stopword_ratio,
          CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens AS uniq_ratio,
          least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS length_score,
          0.4 * (CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / n_tokens)
          + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens)
          + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality_score
        FROM t
    """,
)
def q62_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: stopword ratio + lexical diversity + length.

    The standard cheap heuristics used to filter web corpora before
    training; all map-side column expressions.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("int")
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double") / n_tokens
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    length_score = F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        length_score.alias("length_score"),
        (0.4 * stop_ratio + 0.3 * uniq_ratio + 0.3 * length_score).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# q63 — tf-idf top terms per document
# ---------------------------------------------------------------------------
@register(
    "q63_tfidf_top_terms",
    tags=("text", "tfidf"),
    bench=True,
    oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT
            tf.doc_id, tf.term, tf.tf, df.df,
            CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / df.df) AS score
          FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, score, rn
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
          ) AS rn FROM scored
        ) t
        WHERE rn <= 3
    """,
)
def q63_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document.

    idf uses the raw N/df ratio (not log) so the oracle comparison stays in
    exact IEEE arithmetic — libm log() may differ across engines by 1 ulp.
    df is a tiny table (vocabulary-sized) → broadcast join. n_docs is a
    broadcast scalar-aggregate crossJoin (the repo idiom), NOT an eager
    .count() — one planned scan, no driver action before the job
    (VERDICT r14 what's-wrong #3). The double division n_docs/df is the
    same single IEEE op as the old literal/df, so the hash grade holds.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs") / F.col("df"))
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


# ---------------------------------------------------------------------------
# q64 — heuristic language ID (rows-only)
# ---------------------------------------------------------------------------
@register(
    "q64_lang_id",
    tags=("text", "langid"),
    oracle="""
        WITH sample AS (
          SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
            FROM documents
          ) t WHERE rn <= 50
        ),
        bigrams AS (
          SELECT lang, substring(text, CAST(i AS INT), 2) AS bg
          FROM sample,
               UNNEST(range(1, greatest(length(text) - 1, 1) + 1)) AS u(i)
        ),
        profile AS (
          SELECT lang AS profile_lang, bg, 1 AS hit FROM (
            SELECT lang, bg,
                   ROW_NUMBER() OVER (
                     PARTITION BY lang ORDER BY COUNT(*) DESC, bg ASC
                   ) AS brn
            FROM bigrams GROUP BY lang, bg
          ) p WHERE brn <= 20
        ),
        doc_bigrams AS (
          SELECT doc_id, lang, substring(text, CAST(i AS INT), 2) AS bg
          FROM documents,
               UNNEST(range(1, greatest(length(text) - 1, 1) + 1)) AS u(i)
        ),
        scores AS (
          SELECT d.doc_id, d.lang, p.profile_lang,
                 CAST(SUM(p.hit) AS BIGINT) AS score
          FROM doc_bigrams d JOIN profile p USING (bg)
          GROUP BY 1, 2, 3
        )
        SELECT doc_id, lang, profile_lang AS predicted_lang, score,
               lang = profile_lang AS is_correct
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, profile_lang ASC
          ) AS prn
          FROM scores
        ) s WHERE prn = 1
    """,
)
def q64_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram profile language guesser.

    Scores each document's character bigrams against per-language profiles
    learned from a deterministic sample of the corpus itself (top bigrams
    per labeled language), then predicts argmax. Demonstrates the n-gram
    language-ID structure (profile broadcast + explode + score) on synthetic
    text whose labels are random — accuracy is meaningless here, mechanics
    are what's exercised. Fully oracle-replayed (sample, profile, scoring,
    deterministic argmax tie-breaks).
    """
    docs = load_table(spark, sf_dir, "documents")

    # Bigram generation (r16, guide §4.1): explode the POSITION sequence
    # and take substring(text, i, 2) in the projection, instead of
    # transform(sequence(..), i -> substring(..)) + explode. The
    # higher-order transform is interpreted (per-element lambda dispatch)
    # and allocates a full array of 2-char strings per document before
    # the Generate; the position explode keeps the whole pipeline in
    # WholeStageCodegen (a sequence of bigints is the only per-doc
    # allocation) and produces bit-identical bg rows. Wall flat at sf0.1
    # (the stage is join/agg-bound there); the allocation win is
    # per-doc-length, which is what matters for long production docs.

    def _bigrams(df, *keep):
        return df.select(
            *keep,
            "text",
            F.explode(
                F.expr("sequence(1, greatest(length(text) - 1, 1))")
            ).alias("i"),
        ).select(*keep, F.expr("substring(text, i, 2)").alias("bg"))

    # profile: top-20 char bigrams per language from the first 50 docs/lang
    w_doc = W.partitionBy("lang").orderBy("doc_id")
    sample = docs.withColumn("rn", F.row_number().over(w_doc)).filter(F.col("rn") <= 50)
    bigrams = _bigrams(sample, "lang")
    w_bg = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bg"))
    profile = (
        bigrams.groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("brn", F.row_number().over(w_bg))
        .filter(F.col("brn") <= 20)
        .select(F.col("lang").alias("profile_lang"), "bg", F.lit(1).alias("hit"))
    )
    doc_bigrams = _bigrams(docs, "doc_id", "lang")
    scores = (
        doc_bigrams.join(F.broadcast(profile), "bg")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.sum("hit").alias("score"))
    )
    w_pred = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("profile_lang"))
    return (
        scores.withColumn("prn", F.row_number().over(w_pred))
        .filter(F.col("prn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("profile_lang").alias("predicted_lang"),
            "score",
            (F.col("lang") == F.col("profile_lang")).alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# q65 — winnowing fingerprints
# ---------------------------------------------------------------------------
@register(
    "q65_doc_fingerprint",
    tags=("text", "fingerprint"),
    oracle="""
        WITH pos AS (
          SELECT doc_id, CAST(i AS INTEGER) AS pos,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               UNNEST(CASE WHEN len(t) >= 4 THEN range(1, len(t) - 2)
                           ELSE CAST([] AS BIGINT[]) END) AS u(i)
        ),
        hashed AS (
          SELECT doc_id, pos,
                 CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h
          FROM pos
        ),
        wins AS (
          SELECT doc_id,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
          FROM hashed
        ),
        fp AS (SELECT DISTINCT doc_id, win_min FROM wins)
        SELECT doc_id, COUNT(*) AS n_fingerprints,
               MIN(win_min) AS min_fp, MAX(win_min) AS max_fp
        FROM fp GROUP BY doc_id
    """,
)
def q65_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling 4-gram hash, window-min select).

    For each position, hash the 4-token shingle; a fingerprint is the min
    hash in each sliding window of 4 consecutive shingle hashes — the
    classic winnowing scheme (Schleimer et al.) used for plagiarism/
    near-dup detection. md5-derived hashes make the whole scheme
    oracle-replayable. Emits per-doc fingerprint-set stats.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    shingles = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "CASE WHEN size(toks) >= 4 THEN transform(sequence(1, size(toks) - 3), "
                "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1], toks[i+2])) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("pos", "shingle"),
    ).withColumn(
        "h",
        F.expr("CAST(conv(substring(md5(CAST(shingle AS BINARY)), 1, 15), 16, 10) AS BIGINT)"),
    )
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fingerprints = (
        shingles.withColumn("win_min", F.min("h").over(w))
        .select("doc_id", "win_min")
        .distinct()
    )
    return fingerprints.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("win_min").alias("min_fp"),
        F.max("win_min").alias("max_fp"),
    )


# ---------------------------------------------------------------------------
# q66 — BPE-ish regex token counting
# ---------------------------------------------------------------------------
# Engine-portable tokenizer pattern: letter runs, digit runs, punctuation
# runs (the GPT-2 pre-tokenizer's shape WITHOUT its lookaheads — Spark
# regexes are java.util.regex, DuckDB's are RE2, and lookahead only exists
# in the former, so the pattern sticks to the common subset; the corpus is
# ASCII so character-class semantics agree too).
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


@register(
    "q66_regex_token_count",
    tags=("text", "tokens", "bpe"),
    oracle=f"""
        WITH t AS (
          SELECT doc_id,
                 regexp_extract_all(text, '{BPE_TOKEN_PATTERN}') AS toks,
                 len(string_split(text, ' ')) AS n_ws_tokens
          FROM documents
        )
        SELECT
          doc_id,
          CAST(len(toks) AS INTEGER) AS n_bpe_tokens,
          CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_bpe_tokens,
          CAST(n_ws_tokens AS INTEGER) AS n_ws_tokens,
          CAST(len(toks) AS DOUBLE) / n_ws_tokens AS bpe_per_word
        FROM t
    """,
)
def q66_regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-style token counts from a regex pre-tokenizer (letter /
    digit / punctuation runs — the BPE pre-tokenization shape), next to the
    whitespace count: `bpe_per_word` is the fertility estimate a training-
    data pipeline uses to convert corpus bytes into token budgets. Pure
    narrow projection, zero shuffle, fully oracle-replayed.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{BPE_TOKEN_PATTERN}', 0)")
    n_ws = F.size(F.split("text", " "))
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_uniq_bpe_tokens"),
        n_ws.cast("int").alias("n_ws_tokens"),
        (F.size(toks).cast("double") / n_ws).alias("bpe_per_word"),
    )


# ---------------------------------------------------------------------------
# q78 — tokenizer vocabulary coverage (per-doc OOV rate)
# ---------------------------------------------------------------------------
VOCAB_K = 500  # vocabulary = top-K corpus tokens by frequency


@register(
    "q78_vocab_coverage",
    tags=("text", "tokenizer", "vocab"),
    oracle=f"""
        WITH words AS (
          SELECT doc_id, u.w AS word
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               UNNEST(t) AS u(w)
        ),
        vocab AS (
          SELECT word FROM (
            SELECT word, COUNT(*) AS c FROM words GROUP BY word
            ORDER BY c DESC, word ASC LIMIT {VOCAB_K}
          )
        )
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov
        FROM words w LEFT JOIN vocab v ON w.word = v.word
        GROUP BY w.doc_id
    """,
)
def q78_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostic: build the top-{500} corpus vocabulary by
    token frequency (ties broken lexicographically — a total order, so both
    engines pick the same vocabulary), then report each document's token
    count and out-of-vocabulary count. Rising OOV rates on new data are the
    signal to retrain a tokenizer.

    Scale shape: one keyed word-count aggregation (map-side partials),
    a top-K on the (vocabulary-sized, not corpus-sized) count relation,
    then the corpus word relation LEFT-joins the K-row vocabulary — a
    broadcast join at any corpus size, since K is fixed. No shuffle of
    the exploded relation beyond its one count aggregation.
    """
    words = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(VOCAB_K)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )


# ---------------------------------------------------------------------------
# q88 — collocation mining (PMI of adjacent word pairs)
# ---------------------------------------------------------------------------
PMI_MIN_COUNT = 5
PMI_TOP_K = 50


@register(
    "q88_collocations_pmi",
    tags=("text", "collocations", "pmi"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        uni AS (
          SELECT u.w AS word, CAST(COUNT(*) AS BIGINT) AS n
          FROM toks, UNNEST(t) AS u(w) GROUP BY 1
        ),
        bi AS (
          SELECT t[i] || ' ' || t[i+1] AS bigram, t[i] AS w1, t[i+1] AS w2,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM toks, UNNEST(CASE WHEN len(t) >= 2 THEN range(1, len(t))
                                 ELSE CAST([] AS BIGINT[]) END) AS u(i)
          GROUP BY 1, 2, 3
        ),
        tot AS (
          SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM uni) AS n_uni,
                 (SELECT CAST(SUM(n) AS BIGINT) FROM bi) AS n_bi
        )
        SELECT b.bigram, b.n,
               (CAST(b.n AS DOUBLE) / t.n_bi)
                 / ((CAST(u1.n AS DOUBLE) / t.n_uni)
                    * (CAST(u2.n AS DOUBLE) / t.n_uni)) AS pmi_ratio
        FROM bi b
        JOIN uni u1 ON b.w1 = u1.word
        JOIN uni u2 ON b.w2 = u2.word
        CROSS JOIN tot t
        WHERE b.n >= {PMI_MIN_COUNT}
        ORDER BY pmi_ratio DESC, bigram ASC LIMIT {PMI_TOP_K}
    """,
)
def q88_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{50} adjacent-word collocations by pointwise mutual information
    among pairs seen ≥ {5} times — the standard phrase-mining /
    tokenizer-merge-candidate pass. The emitted score is the PMI RATIO
    p(xy)/(p(x)·p(y)) rather than its log: ln() is a transcendental whose
    last ulp differs between the JVM and DuckDB's libm (measured: 1-ulp
    hash mismatch), while the ratio is pure IEEE arithmetic in one fixed
    shape — same ordering (ln is monotonic), bit-exact replay.

    Scale shape: bigram and unigram counts are two keyed aggregations with
    map-side partials; the PMI join runs on the VOCABULARY-sized count
    relations (bigram vocab × 2 unigram lookups), not the corpus; totals
    are a 1-row broadcast. PMI evaluates in double from exact bigint
    counts with one fixed expression shape, so the oracle replays every
    bit. Top-K is TakeOrderedAndProject — no global sort.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("toks")
    )
    # lazy cuts: the unigram table feeds totals + both PMI lookup sides,
    # the bigram table feeds totals + the scored relation — uncut, each
    # reference re-explodes the corpus (audit: 5 document scans/plan)
    uni = (
        toks.select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                """CASE WHEN size(toks) >= 2
                        THEN transform(sequence(1, size(toks) - 1),
                                       i -> struct(toks[i-1] AS w1, toks[i] AS w2))
                        ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
                   END"""
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    tot = bi.groupBy().agg(F.sum("n").alias("n_bi")).crossJoin(
        uni.groupBy().agg(F.sum("n").alias("n_uni"))
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n").alias("n2"))
    pmi_ratio = (F.col("n").cast("double") / F.col("n_bi")) / (
        (F.col("n1").cast("double") / F.col("n_uni"))
        * (F.col("n2").cast("double") / F.col("n_uni"))
    )
    return (
        bi.filter(F.col("n") >= PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "n",
            pmi_ratio.alias("pmi_ratio"),
        )
        .orderBy(F.col("pmi_ratio").desc(), F.col("bigram").asc())
        .limit(PMI_TOP_K)
    )


# ---------------------------------------------------------------------------
# q98 — per-source language purity (Gini impurity)
# ---------------------------------------------------------------------------
@register(
    "q98_source_lang_purity",
    tags=("text", "lang", "purity"),
    oracle="""
        WITH c AS (
          SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY 1, 2
        ),
        t AS (
          SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_langs,
                 CAST(SUM(n * n) AS BIGINT) AS sum_n2
          FROM c GROUP BY source
        )
        SELECT source, n_docs, n_langs,
               1.0 - CAST(sum_n2 AS DOUBLE)
                     / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
                 AS gini_impurity
        FROM t
    """,
)
def q98_source_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language mixing per source as Gini impurity (1 − Σ p_lang²): 0 =
    monolingual source, → 1 = uniform mix. The entropy formulation needs
    ln(), whose last ulp differs across libms (see q88); Gini is the same
    signal in pure IEEE arithmetic — and with Gini = 1 − Σn²/n_docs² the
    Σ accumulates EXACT bigint squares (order-independent, unlike a sum of
    per-lang double fractions), leaving a single double division at the
    end, so the oracle replays it bit-exactly.

    Scale shape: one (source, lang) keyed count — the only pass over the
    corpus — then the purity math runs on the |sources|×|langs| relation.
    """
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("n") * F.col("n")).alias("sum_n2"),
    )
    nd = F.col("n_docs").cast("double")
    return t.select(
        "source",
        "n_docs",
        "n_langs",
        (F.lit(1.0) - F.col("sum_n2").cast("double") / (nd * nd)).alias(
            "gini_impurity"
        ),
    )


# ---------------------------------------------------------------------------
# q99 — corpus report card (one-row multi-metric summary)
# ---------------------------------------------------------------------------
@register(
    "q99_corpus_report",
    tags=("text", "report", "profiling"),
    oracle="""
        WITH base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                 CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM documents
        ),
        dup AS (
          SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
          FROM documents
        )
        SELECT b.n_docs, b.n_langs, b.n_sources, b.total_chars,
               d.n_unique_texts,
               b.n_docs - d.n_unique_texts AS n_exact_dups,
               CAST(b.n_docs - d.n_unique_texts AS DOUBLE)
                 / CAST(b.n_docs AS DOUBLE) AS dup_fraction
        FROM base b CROSS JOIN dup d
    """,
)
def q99_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus report card: document / language / source counts,
    total characters, unique-text count (by md5), and the exact-duplicate
    fraction — the summary line a curation dashboard prints per snapshot.

    Scale shape: two aggregation passes over the corpus (the multi-metric
    scan and the distinct-digest count — distinct md5 shuffles 16-byte
    hashes, never documents), stitched by a 1-row cross join. All counts
    exact bigints; the one ratio is a single double division.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
    )
    dup = docs.select(F.md5(F.col("text").cast("binary")).alias("h")).groupBy().agg(
        F.countDistinct("h").alias("n_unique_texts")
    )
    n_dups = F.col("n_docs") - F.col("n_unique_texts")
    return base.crossJoin(F.broadcast(dup)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_chars",
        "n_unique_texts",
        n_dups.alias("n_exact_dups"),
        (n_dups.cast("double") / F.col("n_docs").cast("double")).alias(
            "dup_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# q100 — document chunking (fixed token windows with overlap, map-side)
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@register(
    "q100_chunk_documents",
    tags=("text", "chunking", "rag"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        )
        SELECT doc_id,
               CAST(ci AS BIGINT) AS chunk_idx,
               CAST(len(t[ci * {CHUNK_STRIDE} + 1 :
                         ci * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT)
                 AS n_tokens,
               array_to_string(
                 t[ci * {CHUNK_STRIDE} + 1 :
                   ci * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text
        FROM toks,
             UNNEST(range(0, ((len(t) - 1) // {CHUNK_STRIDE}) + 1)) AS u(ci)
    """,
)
def q100_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into {64}-token chunks with a {48}-token
    stride ({16}-token overlap) — the chunking pass every RAG index and
    fixed-context pretraining pipeline runs. Chunk boundaries are token
    positions, so no chunk splits a token.

    Scale shape: entirely map-side — tokenize, generate chunk indices
    (sequence + explode), slice per index. ZERO shuffles: the plan is
    Scan → Project → Generate → Project, pipelined in whole-stage codegen;
    output partitioning inherits the scan. At 100 TB this runs at I/O
    speed and is the stage you'd write straight back out partitioned for
    the embedding/indexing job downstream.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    return (
        toks.select(
            "doc_id",
            F.col("t"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.size("t") - 1) / F.lit(CHUNK_STRIDE)).cast("bigint"),
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.slice(
                "t", (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
            ).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").cast("bigint").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# q106 — exact heavy hitters via two-pass Misra-Gries candidate generation
# ---------------------------------------------------------------------------
HH_K = 2000  # report tokens with global freq > n_total / HH_K
_MG_CAPACITY = 4096  # per-partition summary size; must be >= HH_K for recall


def _mg_candidates(batches):
    """Batched Misra-Gries over one partition's token batches.

    Maintains at most _MG_CAPACITY counters; when a merged batch overflows,
    subtracts the (size - capacity)-th smallest count from every counter and
    evicts the non-positive ones — the mergeable-summaries reduction
    (Agarwal et al., PODS'12), equivalent to a sequence of classic MG
    decrements. Guarantee: any token with true partition frequency
    > n_p / (capacity + 1) survives, so every global (n/HH_K)-heavy hitter
    survives in at least one partition (pigeonhole over partitions, since
    capacity >= HH_K).
    """
    import pandas as pd

    state: dict[str, int] = {}
    for pdf in batches:
        for tok, cnt in pdf["token"].value_counts().items():
            state[tok] = state.get(tok, 0) + int(cnt)
        excess = len(state) - _MG_CAPACITY
        if excess > 0:
            m = sorted(state.values())[excess - 1]
            state = {t: c - m for t, c in state.items() if c > m}
    yield pd.DataFrame({"token": list(state.keys())})


@register(
    "q106_heavy_hitters",
    tags=("text", "sketch", "heavy-hitters"),
    bench=True,
    oracle=f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ),
        tot AS (SELECT COUNT(*) AS n FROM toks)
        SELECT token, COUNT(*) AS freq
        FROM toks
        GROUP BY token
        HAVING COUNT(*) * {HH_K} > (SELECT n FROM tot)
    """,
)
def q106_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-level heavy hitters (tokens with freq > n/{HH_K}) via
    per-partition Misra-Gries candidates + exact recount of candidates only.

    Why not a plain groupBy(token): that shuffles the ENTIRE token
    vocabulary (billions of keys at 100 TB). Here pass 1 is shuffle-free
    (mapInPandas carries the MG summary across a partition's Arrow
    batches) and emits <= capacity candidates per partition; pass 2
    recounts ONLY tokens surviving a broadcast semi-join — the shuffle
    carries a few thousand keys. Both the recall guarantee and the exact
    recount make the result identical to the full groupBy.
    """
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))

    cand = (
        toks.mapInPandas(_mg_candidates, T.StructType([T.StructField("token", T.StringType())]))
        .distinct()
    )
    # corpus token total WITHOUT re-exploding: sum of per-doc token-array
    # lengths == COUNT(*) over the exploded relation (split never emits
    # empty arrays — even '' splits to ['']), skipping one full row
    # expansion of the token relation (r15, guide §2.3 project-early).
    # coalesce(.., 0): a NULL text explodes to zero rows, but legacy
    # size(NULL) is -1 when ANSI is off — pin the equivalence to 0 under
    # either sizeOfNull setting (r15 ADVICE).
    total = docs.select(
        F.coalesce(F.size(F.split("text", " ")), F.lit(0)).alias("ntok")
    ).agg(F.sum("ntok").cast("bigint").alias("n"))
    return (
        toks.join(F.broadcast(cand), "token")  # semi shape: candidate filter
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .where(F.col("freq") * HH_K > F.col("n"))
        .select("token", "freq")
    )


# ---------------------------------------------------------------------------
# q111 — unicode/text normalization pass (Arrow-vectorized pandas UDF)
# ---------------------------------------------------------------------------
_WS_PATTERN = "[ \\t\\n\\r]+"  # explicit class: identical semantics in
# pandas-re and DuckDB-RE2 (bare \s is unicode-aware in Python, ASCII in RE2)


def _normalize_batch(batches):
    """NFC-normalize, lowercase, collapse whitespace — per Arrow batch,
    vectorized through pandas .str (no per-row Python)."""
    import pandas as pd  # noqa: F401

    for pdf in batches:
        norm = (
            pdf["text"]
            .str.normalize("NFC")
            .str.lower()
            .str.replace(_WS_PATTERN, " ", regex=True)
            .str.strip()
        )
        out = pdf[["doc_id"]].copy()
        out["norm_len"] = norm.str.len().astype("int64")
        out["norm_text"] = norm
        yield out


@register(
    "q111_text_normalize",
    tags=("text", "curation", "normalize"),
    oracle=f"""
        SELECT
          doc_id,
          CAST(length(t) AS BIGINT) AS norm_len,
          md5(t) AS norm_md5
        FROM (
          SELECT doc_id,
                 trim(regexp_replace(lower(nfc_normalize(text)),
                                     '{_WS_PATTERN}', ' ', 'g')) AS t
          FROM documents
        )
    """,
)
def q111_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (NFC → lowercase → whitespace collapse
    → trim), the first pass of every training-data pipeline.

    Spark has no built-in unicode normalizer, so this is the documented
    Python boundary: mapInPandas with pandas' vectorized .str pipeline
    (Arrow batches in/out, zero per-row Python). Emits a digest, not the
    body, so downstream exact-dedup consumes 32-byte rows. Narrow,
    shuffle-free, embarrassingly parallel — the UDF cost is the only cost.
    """
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("norm_len", T.LongType()),
            T.StructField("norm_text", T.StringType()),
        ]
    )
    return docs.mapInPandas(_normalize_batch, schema).select(
        "doc_id", "norm_len", F.md5("norm_text").alias("norm_md5")
    )


# ---------------------------------------------------------------------------
# q112 — inverted index construction (term → bounded posting list)
# ---------------------------------------------------------------------------
_POSTING_CAP = 20


@register(
    "q112_inverted_index",
    tags=("text", "index", "posting-list"),
    bench=True,
    oracle=f"""
        SELECT
          token,
          COUNT(DISTINCT doc_id) AS n_docs,
          COUNT(*) AS total_tf,
          array_to_string(
            list_slice(list_sort(list(DISTINCT doc_id)), 1, {_POSTING_CAP}), ','
          ) AS posting_head
        FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents
        ) t
        GROUP BY token
        HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def q112_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: per token, document frequency, total
    term frequency, and the head of the sorted posting list.

    One explode + ONE token-keyed hash aggregation (map-side partial aggs
    collapse within-doc repeats before the single shuffle). n_docs is
    derived as size(collect_set) rather than count_distinct: the set is
    already being built for the posting list, and a count_distinct beside
    it forces Spark into a second aggregation level — partial agg keyed
    (token, doc_id), an extra (token, doc_id) shuffle, then a re-shuffle
    on token (measured 2.8x slower at sf0.1; at 100 TB the extra
    full-corpus shuffle dominates). The posting list OUTPUT is capped —
    an uncapped posting column on a stopword key is a straight OOM at
    100 TB; real indexes shard long postings, so the query surface
    exposes the head + exact counts. Honesty note: the collect_set
    BUFFER is still df(token)-sized while aggregating (true of every
    formulation that returns an exact sorted head + exact n_docs; the
    pre-change count_distinct plan carried the same set through one more
    shuffle) — at web scale the remedy is dropping/sharding
    stopword-grade tokens up front, exactly the DF-cap guard
    `capped_shingles` applies on the dedup path. Emitted as a joined
    string (doc ids are integers, ',' cannot collide) because the
    driver's canonicalizer cannot hash array cells.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("total_tf"),
            F.sort_array(F.collect_set("doc_id")).alias("_postings"),
        )
        .select(
            "token",
            F.size("_postings").cast("bigint").alias("n_docs"),
            "total_tf",
            F.array_join(F.slice("_postings", 1, _POSTING_CAP), ",").alias(
                "posting_head"
            ),
        )
        .where(F.col("n_docs") >= 3)
    )


# ---------------------------------------------------------------------------
# q113 — corpus-statistics familiarity score (bigram-frequency weighting)
# ---------------------------------------------------------------------------
@register(
    "q113_bigram_familiarity",
    tags=("text", "lm", "quality"),
    oracle="""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bigrams AS (
          SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
          FROM toks, LATERAL (
            SELECT unnest(range(1, len(t))) AS i
          ) idx
        ),
        counted AS (
          SELECT doc_id, bg,
                 COUNT(*) OVER (PARTITION BY bg) AS c_bg
          FROM bigrams
        )
        SELECT
          doc_id,
          COUNT(*) AS n_bigrams,
          CAST(SUM(c_bg) AS BIGINT) AS familiarity_hits,
          CAST(SUM(c_bg) AS DOUBLE) / COUNT(*) AS familiarity
        FROM counted
        GROUP BY doc_id
    """,
)
def q113_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-style quality signal: how familiar each document's
    bigrams are relative to the whole corpus (frequency-weighted; a doc of
    common constructions scores high, gibberish scores ~1).

    All integer arithmetic until one final division, so the score is
    order-independent and exact — the log-prob formulation would sum
    doubles in shuffle order (and libm log differs across engines).
    Plan: bigrams from the token array via a JVM-side transform (no
    self-join on position), ONE shuffle on the bigram key for the window
    count, one groupBy back on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    # size(t) >= 2 guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, so a
    # 1-token doc would probe element_at indices 0 and 2 and crash
    # (INVALID_ARRAY_INDEX_IN_ELEMENT_AT). DuckDB's range(1, 1) is empty —
    # matching semantics are "short docs emit no bigram rows".
    bg = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                )
            ).alias("bg"),
        )
    )
    counted = bg.withColumn("c_bg", F.count(F.lit(1)).over(W.partitionBy("bg")))
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("c_bg").alias("familiarity_hits"),
        (F.sum("c_bg").cast("double") / F.count(F.lit(1))).alias("familiarity"),
    )


# ---------------------------------------------------------------------------
# q139 — sparse TF-IDF cosine similarity join (df-capped posting lists)
# ---------------------------------------------------------------------------
_SIM_DF_CAP = 50  # ignore tokens appearing in more docs (stopword-ish)
_SIM_TAU = 0.5  # emit pairs with cosine >= tau


@register(
    "q139_tfidf_cosine_pairs",
    tags=("text", "similarity", "sparse", "join"),
    oracle=f"""
        WITH tf AS (
          SELECT doc_id, token, COUNT(*) AS tf
          FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
          ) GROUP BY doc_id, token
        ),
        df AS (
          SELECT token, COUNT(*) AS df FROM tf GROUP BY token
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        w AS (
          SELECT tf.doc_id, tf.token,
                 tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS wt
          FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
          WHERE df.df <= {_SIM_DF_CAP}
        ),
        norms AS (
          SELECT doc_id,
                 CAST(SUM(CAST(wt * wt AS DECIMAL(28,6))) AS DOUBLE) AS nrm2
          FROM w GROUP BY doc_id
        ),
        dots AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(SUM(CAST(a.wt * b.wt AS DECIMAL(28,6))) AS DOUBLE) AS dot
          FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT d.doc_a, d.doc_b,
               d.dot / (sqrt(na.nrm2) * sqrt(nb.nrm2)) AS cosine
        FROM dots d
        JOIN norms na ON d.doc_a = na.doc_id
        JOIN norms nb ON d.doc_b = nb.doc_id
        WHERE d.dot / (sqrt(na.nrm2) * sqrt(nb.nrm2)) >= {_SIM_TAU}
    """,
)
def q139_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector similarity join: document pairs with TF-IDF cosine
    >= {_SIM_TAU}, computed through posting lists — the IR-side
    near-duplicate detector (q42's Jaccard weighs all shingles equally;
    this weighs rare terms up).

    The scale lever is the DF CAP: a token in d documents contributes
    O(d²) pair partials, so stopword-grade tokens (df > {_SIM_DF_CAP})
    are dropped BEFORE the posting-list self-join — the same
    quadratic-blowup guard as q42's hot-shingle cap, and standard IR
    practice (their idf ≈ 0 anyway). idf is one double division
    (deterministic); pair dot products and norms go through the
    DECIMAL exact-sum so shuffle order can't move the cosine.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(df.where(F.col("df") <= _SIM_DF_CAP), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))).alias("wt"),
        )
        .localCheckpoint(eager=False)  # used three times below (lazy:
        # the first consumer's job materializes the cut, r15)
    )
    norms = w.groupBy("doc_id").agg(
        F.sum((F.col("wt") * F.col("wt")).cast("decimal(28,6)"))
        .cast("double")
        .alias("nrm2")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "token", F.col("wt").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), F.col("token").alias("token_b"), F.col("wt").alias("wb"))
    dots = (
        a.join(b, (F.col("token") == F.col("token_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,6)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm2").alias("nb2"))
    cos = F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2"))
    return (
        dots.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .where(cos >= _SIM_TAU)
        .select("doc_a", "doc_b", cos.alias("cosine"))
    )


# ---------------------------------------------------------------------------
# q140 — corpus composition drift: per-period source shares of tokens
# ---------------------------------------------------------------------------
@register(
    "q140_composition_drift",
    tags=("text", "governance", "drift"),
    oracle="""
        WITH t AS (
          SELECT source,
                 CAST(doc_id % 12 AS INTEGER) AS period,
                 len(string_split(text, ' ')) AS n_tokens
          FROM documents
        ),
        agg AS (
          SELECT period, source,
                 CAST(SUM(n_tokens) AS BIGINT) AS tokens
          FROM t GROUP BY period, source
        )
        SELECT period, source, tokens,
               CAST(tokens AS DOUBLE)
                 / SUM(tokens) OVER (PARTITION BY period) AS share
        FROM agg
    """,
)
def q140_composition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition over ingestion periods: each source's token
    share per period — the governance chart that catches one crawl
    silently taking over the training mix. (The synthetic docs carry no
    ingestion date, so the period is a deterministic doc_id bucket; on
    real data it is date_trunc of the ingestion timestamp.)

    Per-doc token counts are map-side; one keyed aggregate to
    (period, source); the share window runs over the periods×sources
    relation. Integer token sums; share is one double division of exact
    bigints (the window SUM of bigints is exact in both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        (F.col("doc_id") % 12).cast("int").alias("period"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    agg = t.groupBy("period", "source").agg(
        F.sum("n_tokens").cast("bigint").alias("tokens")
    )
    return agg.select(
        "period",
        "source",
        "tokens",
        (
            F.col("tokens").cast("double")
            / F.sum("tokens").over(W.partitionBy("period"))
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# q176 — hashing-trick featurization (text → fixed-width sparse counts)
# ---------------------------------------------------------------------------
_FH_SLOTS = 32  # fixed feature width, independent of vocabulary size


@register(
    "q176_feature_hashing",
    tags=("text", "features", "hashing"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
          FROM documents
        )
        SELECT doc_id,
               CAST(CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT)
                    % {_FH_SLOTS} AS INT) AS slot,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks
        WHERE tok <> ''
        GROUP BY 1, 2
    """,
)
def q176_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: every token maps to one of 32 fixed
    slots by md5, giving each document a bounded sparse count vector with
    NO vocabulary table — the feature-engineering move that removes the
    vocabulary bottleneck entirely (no dictionary build, no OOV, no
    vocabulary-sized shuffle; collisions are the declared trade).

    Fully map-side until one (doc, slot) aggregation: explode tokens,
    hash to a slot, count. Output is the sparse triple form (doc_id,
    slot, n_tokens) — never an array column (the driver's pandas
    canonicalization cannot hash arrays). At 100 TB the width knob is
    the only thing that changes.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    return toks.groupBy(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10)
            .cast("bigint")
            % _FH_SLOTS
        )
        .cast("int")
        .alias("slot"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))


# ---------------------------------------------------------------------------
# q178 — classifier evaluation: confusion matrix over q64's predictions
# ---------------------------------------------------------------------------
@register(
    "q178_confusion_matrix",
    tags=("text", "evaluation", "langid"),
    oracle=None,  # assigned below once q64 is registered (import order)
)
def q178_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation card: the (true language × predicted
    language) confusion matrix over q64's bigram language-ID output,
    with row-normalized recall share and column-normalized precision
    share on every cell — the standard readout for any categorical
    model, computed without collecting predictions.

    Composition, not duplication: the Spark side aggregates q64's
    DataFrame; the oracle wraps q64's oracle SQL as a derived table.
    The matrix relation is |langs|² (bounded by the label taxonomy), so
    the normalization windows are driver-trivial while counts stay exact
    bigints.
    """
    preds = QUERIES_Q64_FN(spark, sf_dir)
    m = preds.groupBy(
        F.col("lang").alias("true_lang"),
        F.col("predicted_lang"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_row = W.partitionBy("true_lang")
    w_col = W.partitionBy("predicted_lang")
    return m.select(
        "true_lang",
        "predicted_lang",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_row)).alias("recall_share"),
        (F.col("n").cast("double") / F.sum("n").over(w_col)).alias(
            "precision_share"
        ),
    )


# late-bind q64 pieces (both live in this module, so registration order is
# deterministic: q64 registers above q178)
from docling_api_spark.plans.registry import QUERIES as _REG

QUERIES_Q64_FN = _REG["q64_lang_id"].fn
_REG["q178_confusion_matrix"].oracle = f"""
    WITH preds AS ({_REG["q64_lang_id"].oracle})
    SELECT lang AS true_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY lang) AS recall_share,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY predicted_lang)
             AS precision_share
    FROM preds
    GROUP BY lang, predicted_lang
"""


# ---------------------------------------------------------------------------
# q189 — BPE merge training (3 rounds over the corpus vocabulary)
# ---------------------------------------------------------------------------
BPE_ROUNDS = 3


def _bpe_chain() -> str:
    """Shared DuckDB CTE chain for the unrolled BPE_ROUNDS-round
    byte-pair-encoding trainer: wf (word, freq) -> v0 (char-spaced) ->
    per round p{k} (pair counts), b{k} (winning pair), v{k} (merged
    vocabulary). Each round counts adjacent symbol pairs over the
    vocabulary, picks the most frequent (ties broken by pair text), and
    merges corpus-wide via sentinel-padded `replace` — both engines
    scan leftmost-non-overlapping, so vocabularies stay bit-identical.
    q189 reads the b{k} winners; q202 reads the final v{k}."""
    rounds = []
    prev = "v0"
    for k in range(1, BPE_ROUNDS + 1):
        rounds.append(f"""
        p{k} AS (
          SELECT t[i] || ' ' || t[i + 1] AS pair, SUM(freq) AS cnt
          FROM (SELECT freq, string_split(trim(sp), ' ') AS t FROM {prev}) s,
               LATERAL (SELECT unnest(range(1, len(t))) AS i) idx
          GROUP BY 1
        ),
        b{k} AS (SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair LIMIT 1),
        v{k} AS (
          SELECT word, freq,
                 replace(sp, ' ' || (SELECT pair FROM b{k}) || ' ',
                             ' ' || replace((SELECT pair FROM b{k}), ' ', '')
                             || ' ') AS sp
          FROM {prev}
        )""")
        prev = f"v{k}"
    return f"""wf AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
          FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
          ) t
          WHERE word <> '' GROUP BY word
        ),
        v0 AS (
          SELECT word, freq,
                 ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' '
                   AS sp
          FROM wf
        ),
        {",".join(rounds)}"""


def _bpe_oracle() -> str:
    unions = "\n        UNION ALL ".join(
        f"""SELECT CAST({k} AS INTEGER) AS rnd, pair,
               replace(pair, ' ', '') AS merged, CAST(cnt AS BIGINT) AS cnt
        FROM b{k}"""
        for k in range(1, BPE_ROUNDS + 1)
    )
    return f"""
        WITH {_bpe_chain()}
        {unions}
    """


@register(
    "q189_bpe_merges",
    tags=("text", "tokenizer", "iterative"),
    bench=True,
    oracle=_bpe_oracle(),
)
def q189_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training: the first BPE_ROUNDS merge
    rules learned from the corpus (GPT-2-style, frequency-weighted over
    the word vocabulary, ties broken lexicographically).

    The 100 TB shape is exactly this one: the corpus reduces ONCE to a
    (word, freq) vocabulary — the only fact-sized shuffle; every merge
    round then runs on the vocabulary relation (thousands of rows per
    language, never corpus-sized): a map-side pair explode bounded by
    word length, one hash aggregation, a driver-side collect of the
    SINGLE winning pair (the IVF-centroid discipline: scalar state, not
    data), and a map-side sentinel-padded `replace` to apply the merge.
    Per-round `localCheckpoint` keeps plan depth O(1) per round (the
    q45/q152 ladder). Both engines' `replace` scan leftmost-
    non-overlapping, so merged vocabularies match bit-for-bit."""
    out, _ = _bpe_train(spark, sf_dir)
    return literal_df(
        spark, out, "rnd int, pair string, merged string, cnt bigint"
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the BPE_ROUNDS merge loop; return (merge rules, final
    vocabulary relation (word, freq, sp)) — q189 reports the rules,
    q202 applies the trained vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    v = wf.select(
        "word",
        "freq",
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace("word", "(.)", "$1 ")),
            F.lit(" "),
        ).alias("sp"),
    # lazy (r15): each round's winner collect() is the materializing
    # action anyway — the eager form added a driver barrier per round
    ).localCheckpoint(eager=False)

    out: list[tuple[int, str, str, int]] = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pairs = (
            v.select("freq", F.split(F.trim("sp"), " ").alias("t"))
            .where(F.size("t") >= 2)  # 1-symbol words emit no pairs (q113 lesson)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 1),"
                        " i -> concat(element_at(t, i), ' ',"
                        " element_at(t, i + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        winners = pairs.orderBy(F.col("cnt").desc(), F.col("pair")).limit(1).collect()
        if not winners:  # corpus exhausted (empty / all 1-symbol words)
            break
        top = winners[0]
        merged = top["pair"].replace(" ", "")
        out.append((rnd, top["pair"], merged, top["cnt"]))
        v = v.withColumn(
            "sp",
            F.replace(
                F.col("sp"),
                F.lit(f" {top['pair']} "),
                F.lit(f" {merged} "),
            ),
        ).localCheckpoint(eager=False)

    return out, v


# ---------------------------------------------------------------------------
# q190 — positional phrase search over the inverted-index postings
# ---------------------------------------------------------------------------
PHRASE = ("window", "join")  # the two-token phrase being served


@register(
    "q190_phrase_search",
    tags=("text", "ir", "inverted_index"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        pos AS (
          SELECT doc_id, t[i] AS tok, i
          FROM toks, LATERAL (
            SELECT unnest(range(1, len(t) + 1)) AS i
          ) idx
        ),
        a AS (SELECT doc_id, i FROM pos WHERE tok = '{PHRASE[0]}'),
        b AS (SELECT doc_id, i FROM pos WHERE tok = '{PHRASE[1]}')
        SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM a JOIN b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        GROUP BY a.doc_id
    """,
)
def q190_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query ("{PHRASE[0]} {PHRASE[1]}") served from
    positional postings — the intersection step an inverted index (q112)
    exists for.

    Spark shape: ONE tokenization pass with the two query terms pushed
    into the post-explode filter, positions gathered per (doc, term)
    into arrays, and the adjacency test done map-side as
    `array_intersect(positions_a + 1, positions_b)` — no positional
    self-join, one shuffle keyed by doc_id. The oracle pays the
    join-on-(doc, pos+1) formulation; both count the same adjacent
    occurrences because positions within a document are distinct. At
    100 TB the postings relation is the pre-built q112 index (term-
    partitioned, doc-sorted); serving a phrase touches exactly the two
    term partitions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).where(F.col("tok").isin(list(PHRASE)))
    posted = toks.groupBy("doc_id").agg(
        F.collect_list(
            F.when(F.col("tok") == PHRASE[0], F.col("pos"))
        ).alias("p1"),
        F.collect_list(
            F.when(F.col("tok") == PHRASE[1], F.col("pos"))
        ).alias("p2"),
    )
    return posted.select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.expr("transform(p1, i -> i + 1)"), F.col("p2")
            )
        )
        .cast("bigint")
        .alias("n_hits"),
    ).where(F.col("n_hits") > 0)


# ---------------------------------------------------------------------------
# q197 — BM25 keyword scoring (rational-IDF, oracle-replayable)
# q196 — hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine
# ---------------------------------------------------------------------------
BM25_TERMS = ("window", "join")  # the keyword query (same terms as q190)
BM25_TOPK = 20
RRF_K = 60          # the standard RRF damping constant
RRF_POOL = 50       # per-system candidate pool fed into the fusion
RRF_TOPK = 15
_BM25_SCORE_SQL = """
    (CAST(2 * n_docs - 2 * df + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
    * (CAST(tf AS DOUBLE) * 2.2)
    / (CAST(tf AS DOUBLE)
       + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
                               / CAST(total_len AS DOUBLE)))
"""


def _bm25_oracle_ctes() -> str:
    """Shared DuckDB CTE block: (doc_id, score, rk) for the BM25_TERMS
    query under the rational-IDF BM25 variant (k1=1.2, b=0.75)."""
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
        toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        corpus AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(t)) AS BIGINT) AS total_len
          FROM toks
        ),
        tf AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS tok FROM toks) u
          WHERE tok IN ({terms}) GROUP BY 1, 2
        ),
        df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        bm25_scored AS (
          SELECT tf.doc_id, SUM({_BM25_SCORE_SQL}) AS score
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
          CROSS JOIN corpus
          GROUP BY tf.doc_id
        ),
        bm25_ranked AS (
          SELECT doc_id, score, CAST(ROW_NUMBER() OVER (
                   ORDER BY score DESC, doc_id) AS BIGINT) AS rk
          FROM bm25_scored
        )
    """


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, rk) under rational-IDF BM25 — the Spark twin of
    `_bm25_oracle_ctes`."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    # reduce-once: corpus totals derive from the doc-length relation, and
    # the (doc, term) tf table is lazily cut — its df aggregation and the
    # scoring join both consume it (audit: 4 corpus scans/plan uncut)
    dl = toks.select("doc_id", F.size("t").cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .where(F.col("tok").isin(list(BM25_TERMS)))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", F.expr(_BM25_SCORE_SQL).alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
    )
    wr = W.orderBy(F.col("score").desc(), "doc_id")
    return scored.select(
        "doc_id", "score", F.row_number().over(wr).cast("bigint").alias("rk")
    )


@register(
    "q197_bm25_scoring",
    tags=("text", "ir", "ranking"),
    bench=True,
    oracle=f"""
        WITH {_bm25_oracle_ctes()}
        SELECT doc_id, score, rk FROM bm25_ranked WHERE rk <= {BM25_TOPK}
    """,
)
def q197_bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOPK} documents for the BM25_TERMS keyword query under
    BM25 (k1=1.2, b=0.75) with a RATIONAL idf surrogate,
    (N - df + 0.5)/(df + 0.5) kept as an exact integer ratio instead of
    its log: ln()'s last ulp differs across libms (the q88 lesson), and
    for a fixed query the rational form is a monotone transform of
    log-idf per term, so the plan and the ranking machinery are the
    production ones.

    Shape: one tokenize+explode pass with the query terms pushed into
    the post-explode filter (term-sized, not corpus-sized, after it),
    document length and corpus totals reduced once, df per term a
    2-row broadcast, and the per-(doc, term) partial scores summed per
    doc (≤2 doubles — IEEE addition of two terms is commutative, so
    still deterministic). Ranking is one window over the matched-docs
    relation — at 100 TB that relation is posting-list-sized, and the
    top-k would flow through the q17 TakeOrderedAndProject path."""
    return _bm25_ranked(spark, sf_dir).where(F.col("rk") <= BM25_TOPK)


@register(
    "q196_hybrid_rank_fusion",
    tags=("text", "ir", "similarity", "fusion"),
    oracle=f"""
        WITH {_bm25_oracle_ctes()},
        qv AS (SELECT embedding AS q_emb, {NORM_DUCK} AS q_norm
               FROM embeddings WHERE vec_id = 0),
        dense AS (
          SELECT vec_id AS doc_id,
                 {DOT_DUCK.format(a='embedding', b='q_emb')}
                   / (({NORM_DUCK}) * q_norm) AS cosine
          FROM embeddings CROSS JOIN qv
          WHERE vec_id <> 0
        ),
        dense_ranked AS (
          SELECT doc_id, CAST(ROW_NUMBER() OVER (
                   ORDER BY cosine DESC, doc_id) AS BIGINT) AS rk
          FROM dense
        ),
        dpool AS (SELECT * FROM dense_ranked WHERE rk <= {RRF_POOL}),
        spool AS (SELECT doc_id, rk FROM bm25_ranked WHERE rk <= {RRF_POOL}),
        fused AS (
          SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
                 d.rk AS dense_rk, s.rk AS sparse_rk,
                 COALESCE(1.0 / ({RRF_K} + d.rk), 0.0)
                 + COALESCE(1.0 / ({RRF_K} + s.rk), 0.0) AS rrf
          FROM dpool d FULL OUTER JOIN spool s ON d.doc_id = s.doc_id
        )
        SELECT doc_id, dense_rk, sparse_rk, rrf,
               CAST(rn AS BIGINT) AS rn
        FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
          FROM fused
        ) t WHERE rn <= {RRF_TOPK}
    """,
)
def q196_hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k={RRF_K}) of the BM25
    keyword ranking (q197's scorer) and the dense cosine ranking against
    query vector 0 — the modern two-tower search stack (sparse + dense,
    fused by rank not score, so the two systems' incomparable score
    scales never meet).

    Each system contributes its top-{RRF_POOL}; rrf = Σ 1/(k + rank)
    over the systems that retrieved the doc (a FULL OUTER join of two
    candidate pools — pool-sized, never corpus-sized). The two 1/(k+r)
    terms are exact-input divisions and one commutative addition, so
    fusion is deterministic. At 100 TB each pool is produced by its own
    index (inverted index / ANN) and the fusion join is a broadcast of
    two k-row relations — the plan here is that join, unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("q_emb"),
            F.expr(NORM_SPARK).alias("q_norm"),
        )
    )
    dense = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                F.expr(DOT_SPARK.format(a="embedding", b="q_emb"))
                / (F.expr(NORM_SPARK) * F.col("q_norm"))
            ).alias("cosine"),
        )
    )
    wd = W.orderBy(F.col("cosine").desc(), "doc_id")
    dpool = (
        dense.select(
            "doc_id", F.row_number().over(wd).cast("bigint").alias("rk")
        )
        .where(F.col("rk") <= RRF_POOL)
        .withColumnRenamed("rk", "dense_rk")
    )
    spool = (
        _bm25_ranked(spark, sf_dir)
        .where(F.col("rk") <= RRF_POOL)
        .select("doc_id", F.col("rk").alias("sparse_rk"))
    )
    fused = (
        dpool.join(spool, "doc_id", "full_outer")
        .select(
            "doc_id",
            "dense_rk",
            "sparse_rk",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rk")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("sparse_rk")),
                    F.lit(0.0),
                )
            ).alias("rrf"),
        )
    )
    wf = W.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rn", F.row_number().over(wf).cast("bigint"))
        .where(F.col("rn") <= RRF_TOPK)
    )


# ---------------------------------------------------------------------------
# q200 — KWIC snippet generation for the phrase hits (search serving)
# ---------------------------------------------------------------------------
KWIC_BEFORE = 2  # context tokens left of the phrase
KWIC_AFTER = 3   # context tokens right of the phrase start


@register(
    "q200_kwic_snippets",
    tags=("text", "ir", "serving"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        hits AS (
          SELECT doc_id, t, i
          FROM toks, LATERAL (
            SELECT unnest(range(1, len(t))) AS i
          ) idx
          WHERE t[i] = '{PHRASE[0]}' AND t[i + 1] = '{PHRASE[1]}'
        )
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(
                 t[GREATEST(i - {KWIC_BEFORE}, 1):LEAST(i + {KWIC_AFTER}, len(t))],
                 ' ') AS snippet
        FROM hits
    """,
)
def q200_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets: for every occurrence of the
    "{PHRASE[0]} {PHRASE[1]}" phrase, the surrounding token window
    (±{KWIC_BEFORE}/{KWIC_AFTER}) joined back into a display string —
    the result-page rendering step that sits on top of q190's phrase
    match.

    Everything is map-side: tokenize once, posexplode with the
    first-term filter pushed into it, the adjacency check via
    element_at, and the snippet as a bounds-clamped `slice` of the
    token array already in hand — no second scan, no join, no shuffle
    at all (the plan is scan → project/explode → filter → project). At
    100 TB snippets are generated per shard next to the postings that
    matched them; the window bounds make output size linear in hit
    count."""
    # spread_key=False: ×1.15 at local[4], ×1.16 at local[8] (SCALING.md "Knob sites")
    docs = load_table(spark, sf_dir, "documents", spread_key=False)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    hits = toks.select(
        "doc_id", "t", F.posexplode("t").alias("p0", "tok")
    ).where(
        (F.col("tok") == PHRASE[0])
        & (F.col("p0") + 2 <= F.size("t"))
        & (F.expr("element_at(t, p0 + 2)") == PHRASE[1])
    )
    # 1-based phrase position (p0 + 1), mirroring the oracle's indexing
    return hits.select(
        "doc_id",
        (F.col("p0") + 1).cast("bigint").alias("pos"),
        F.array_join(
            F.expr(
                f"slice(t, greatest(p0 + 1 - {KWIC_BEFORE}, 1), "
                f"least(p0 + 1 + {KWIC_AFTER}, size(t)) "
                f"- greatest(p0 + 1 - {KWIC_BEFORE}, 1) + 1)"
            ),
            " ",
        ).alias("snippet"),
    )


# ---------------------------------------------------------------------------
# q202 — BPE tokenizer application: corpus compression per source
# ---------------------------------------------------------------------------
@register(
    "q202_bpe_encode",
    tags=("text", "tokenizer", "composition"),
    oracle=f"""
        WITH {_bpe_chain()},
        enc AS (
          SELECT word,
                 CAST(len(string_split(trim(sp), ' ')) AS BIGINT) AS n_toks,
                 CAST(length(word) AS BIGINT) AS n_chars
          FROM v{BPE_ROUNDS}
        ),
        docw AS (
          SELECT source, unnest(string_split(text, ' ')) AS word
          FROM documents
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(e.n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(e.n_toks) AS BIGINT) AS n_tokens,
               CAST(SUM(e.n_chars) AS DOUBLE) / CAST(SUM(e.n_toks) AS DOUBLE)
                 AS chars_per_token
        FROM docw d JOIN enc e ON d.word = e.word
        WHERE d.word <> ''
        GROUP BY d.source
    """,
)
def q202_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the q189-trained BPE vocabulary back to the corpus and
    report per-source tokenization stats (words, chars, tokens,
    chars/token compression) — the encode half of the tokenizer
    pipeline, and the capacity-planning number (tokens per source)
    every training run starts from.

    Encoding is a JOIN, not a re-computation: token counts per WORD
    come from the trained vocabulary relation (vocabulary-sized), and
    the corpus explode joins against it broadcast — each corpus token
    is touched once, map-side. At 100 TB this is exactly how you count
    tokens: ship the trained vocab (small) to the data, never the data
    to the trainer. Counts are exact integers; chars/token is one
    closing division."""
    _, v = _bpe_train(spark, sf_dir)
    enc = v.select(
        "word",
        F.size(F.split(F.trim("sp"), " ")).cast("bigint").alias("n_toks"),
        F.length("word").cast("bigint").alias("n_chars"),
    )
    docs = load_table(spark, sf_dir, "documents")
    docw = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        docw.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            (
                F.sum("n_chars").cast("double")
                / F.sum("n_toks").cast("double")
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# q211 — RAKE keyphrase extraction (degree/frequency scored phrase runs)
# ---------------------------------------------------------------------------
RAKE_STOP = ("the", "a")  # the corpus' function words
RAKE_TOPK = 15


@register(
    "q211_rake_keyphrases",
    tags=("text", "keyphrase", "nlp"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, t[i] AS tok, i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) s,
          LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) idx
          WHERE t[i] <> ''
        ),
        marked AS (
          SELECT doc_id, tok, i,
                 CASE WHEN tok IN {RAKE_STOP} THEN 1 ELSE 0 END AS st,
                 SUM(CASE WHEN tok IN {RAKE_STOP} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i) AS isl
          FROM toks
        ),
        phr AS (
          SELECT doc_id, isl,
                 string_agg(tok, ' ' ORDER BY i) AS phrase,
                 COUNT(*) AS plen
          FROM marked WHERE st = 0 GROUP BY doc_id, isl
        ),
        wstats AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
                 CAST(SUM(plen) AS BIGINT) AS deg
          FROM (SELECT unnest(string_split(phrase, ' ')) AS word, plen
                FROM phr) w
          GROUP BY word
        ),
        dphr AS (
          SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                 CAST(MAX(plen) AS BIGINT) AS n_words
          FROM phr GROUP BY phrase
        ),
        pw AS (
          SELECT d.phrase, k, string_split(d.phrase, ' ')[k] AS word
          FROM dphr d, LATERAL (
            SELECT unnest(range(1, len(string_split(d.phrase, ' ')) + 1)) AS k
          ) kk
        ),
        ps AS (
          SELECT pw.phrase,
                 list_sum(list(CAST(w.deg AS DOUBLE) / w.freq ORDER BY pw.k))
                   AS score
          FROM pw JOIN wstats w ON pw.word = w.word GROUP BY pw.phrase
        )
        SELECT phrase, n_words, n_occurrences, score, CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT dphr.phrase, n_words, n_occurrences, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, dphr.phrase) AS rk
          FROM dphr JOIN ps ON dphr.phrase = ps.phrase
        ) t WHERE rk <= {RAKE_TOPK}
    """,
)
def q211_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: candidate phrases are maximal runs of
    non-stopword tokens; each phrase scores the sum of its member words'
    degree/frequency ratios (degree = total length of phrases the word
    appears in) — the classic unsupervised keyphrase extractor.

    Shapes: phrase runs come from the gaps-and-islands idiom (stopword
    cumsum per document — one doc-partitioned window over the token
    relation); word statistics reduce to the VOCABULARY and broadcast
    back onto the distinct-phrase relation; the per-phrase score folds
    the member ratios IN TOKEN ORDER (sort_array + sequential aggregate
    here, ORDER BY inside list() in the oracle) so the float sum is
    deterministic on both engines — a plain SUM over doubles would be
    shuffle-order dependent. One fact-sized shuffle (tokens), everything
    after is phrase/vocabulary-sized."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok")
        )
        .where(F.col("tok") != "")
        .select("doc_id", "tok", (F.col("p0") + 1).alias("i"))
    )
    st = F.when(F.col("tok").isin(list(RAKE_STOP)), 1).otherwise(0)
    wd = W.partitionBy("doc_id").orderBy("i")
    marked = toks.select(
        "doc_id", "tok", "i", st.alias("st"), F.sum(st).over(wd).alias("isl")
    )
    phr = (
        marked.where(F.col("st") == 0)
        .groupBy("doc_id", "isl")
        .agg(
            F.array_join(
                F.expr("transform(sort_array(collect_list(struct(i, tok)))"
                       ", x -> x.tok)"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
    )
    wstats = (
        phr.select(F.explode(F.split("phrase", " ")).alias("word"), "plen")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    dphr = phr.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.max("plen").cast("bigint").alias("n_words"),
    )
    pw = dphr.select(
        "phrase", F.posexplode(F.split("phrase", " ")).alias("k0", "word")
    )
    ps = (
        pw.join(F.broadcast(wstats), "word")
        .select(
            "phrase",
            "k0",
            (F.col("deg").cast("double") / F.col("freq")).alias("ratio"),
        )
        .groupBy("phrase")
        .agg(
            F.expr(
                "aggregate(transform(sort_array(collect_list("
                "struct(k0, ratio))), x -> x.ratio),"
                " cast(0.0 as double), (a, b) -> a + b)"
            ).alias("score")
        )
    )
    wk = W.orderBy(F.col("score").desc(), "phrase")
    return (
        dphr.join(ps, "phrase")
        .withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .where(F.col("rk") <= RAKE_TOPK)
        .select("phrase", "n_words", "n_occurrences", "score", "rk")
    )


# ---------------------------------------------------------------------------
# q217 — Hellinger drift: each source's unigram distribution vs the corpus
# ---------------------------------------------------------------------------
# Distribution-level drift for text: the Hellinger distance
#     H(P,Q) = sqrt(1 - sum_t sqrt(p_t * q_t))
# between each source's term distribution and the corpus-wide one. Unlike
# KL/JS it needs no logarithms (libm log is not cross-engine reproducible;
# sqrt is IEEE-correctly-rounded), and unlike q101's KS (numeric samples)
# or q140's share drift (coarse token counts) it compares the full lexical
# *distribution* — the governance check that catches a crawl whose volume
# share is stable but whose vocabulary silently shifted.
#
# Scale shape: two vocabulary-sized aggregates (source-term, term), one
# equi-join on term, per-source totals broadcast; the fact table is read
# once and only vocabulary-sized relations shuffle. The per-term masses are
# summed through DECIMAL(28,12) so the Bhattacharyya coefficient is order-
# independent and engine-exact.
@register(
    "q217_hellinger_drift",
    tags=("text", "drift", "governance"),
    oracle="""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        st AS (SELECT source, term, COUNT(*) AS c_st FROM tok GROUP BY source, term),
        ct AS (SELECT term, COUNT(*) AS c_t FROM tok GROUP BY term),
        ns AS (SELECT source, COUNT(*) AS n_s FROM tok GROUP BY source),
        tot AS (SELECT COUNT(*) AS n FROM tok),
        bc AS (
          SELECT st.source,
                 CAST(SUM(CAST(
                   sqrt((CAST(st.c_st AS DOUBLE) / ns.n_s)
                        * (CAST(ct.c_t AS DOUBLE) / tot.n))
                 AS DECIMAL(28,12))) AS DOUBLE) AS bhattacharyya
          FROM st
          JOIN ct USING (term)
          JOIN ns USING (source)
          CROSS JOIN tot
          GROUP BY st.source
        )
        SELECT bc.source,
               CAST(ns.n_s AS BIGINT) AS n_tokens,
               bc.bhattacharyya AS bhattacharyya,
               sqrt(1 - bc.bhattacharyya) AS hellinger
        FROM bc JOIN ns USING (source)
    """,
)
def q217_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between each source's unigram distribution and the
    corpus distribution (log-free drift metric — see block comment). One
    corpus scan, vocabulary-sized shuffles, term equi-join, broadcast
    totals; DECIMAL-exact Bhattacharyya sum so any partitioning hashes
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    # reduce-once (q226 discipline): ONE corpus pass to the (source, term)
    # count table, lazily cut; term totals, source totals, and the corpus
    # total are re-aggregations of it (audit: 5 corpus scans/plan uncut)
    st = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c_st")
    ).localCheckpoint(eager=False)
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = st.agg(F.sum("c_st").alias("n"))
    mass = (
        st.join(ct, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.sqrt(
                (F.col("c_st").cast("double") / F.col("n_s"))
                * (F.col("c_t").cast("double") / F.col("n"))
            )
            .cast("decimal(28,12)")
            .alias("m"),
        )
    )
    bc = mass.groupBy("source").agg(
        F.sum("m").cast("double").alias("bhattacharyya")
    )
    return bc.join(F.broadcast(ns), "source").select(
        "source",
        F.col("n_s").cast("bigint").alias("n_tokens"),
        "bhattacharyya",
        F.sqrt(1 - F.col("bhattacharyya")).alias("hellinger"),
    )


# ---------------------------------------------------------------------------
# q233 — Count-Min sketch: build + probe, with exact-count error audit
# ---------------------------------------------------------------------------
# The point-query sketch missing from the family (q106 Misra-Gries finds
# heavy hitters, q171 HLL counts distincts, q108 Bloom tests membership;
# CMS answers "how often did THIS term occur" in sublinear space): d=4
# salted hash rows × w=1024 columns of exact counters, estimate = min over
# the d cells, always an overestimate. Hashes are the engine-portable md5
# idiom, so build and probe replay identically anywhere.
#
# Scale: the build is ONE hash agg to d×w=4096 cells, derived from the
# count-weighted VOCABULARY relation (the d-way explode costs d×|vocab|,
# never d×|corpus|; partial aggregation combines map-side, so the wire
# carries ≤4096 cells per task). On an unbounded stream you'd explode the
# raw tokens instead — same cells, no vocab materialization. The
# probe set (top-20 exact terms, the worst case for CMS collisions) is a
# TakeOrderedAndProject; estimates are a broadcast join against the cell
# relation. The audit column (est − exact ≥ 0) is the CMS guarantee,
# checked per term.
_CMS_D = 4
_CMS_W = 1024
_CMS_TOPK = 20


def _cms_cell_sql(j: str, term: str) -> str:
    """DuckDB-side salted CMS cell (md5 hex → first 8 nybbles → column)."""
    return (
        f"CAST(concat('0x', substring(md5(concat(CAST({j} AS VARCHAR), ':', "
        f"{term})), 1, 8)) AS BIGINT) % {_CMS_W}"
    )


def _cms_cell_spark(j: str, term: str) -> str:
    """Spark twin of :func:`_cms_cell_sql` — same md5-hex value, expressed
    with conv() (Spark can't parse '0x' string casts or bare VARCHAR)."""
    return (
        f"CAST(conv(substring(md5(CAST(concat(CAST({j} AS STRING), ':', "
        f"{term}) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % {_CMS_W}"
    )


@register(
    "q233_count_min_sketch",
    bench=True,
    tags=("sketch", "text", "approx"),
    oracle=f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ),
        exact AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_n
          FROM toks GROUP BY term
        ),
        cells AS (
          -- built from the VOCABULARY relation, not the token stream: the
          -- d-way explode runs on ~|vocab| rows with count weights, so the
          -- sketch build costs d x vocab, never d x corpus
          SELECT j.j, {_cms_cell_sql('j.j', 'exact.term')} AS col,
                 CAST(SUM(exact.exact_n) AS BIGINT) AS cell_n
          FROM exact CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS j) j
          GROUP BY 1, 2
        ),
        probe AS (
          SELECT term, exact_n FROM exact
          ORDER BY exact_n DESC, term LIMIT {_CMS_TOPK}
        ),
        est AS (
          SELECT p.term, p.exact_n,
                 CAST(MIN(c.cell_n) AS BIGINT) AS cms_est
          FROM probe p
          CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS j) j
          JOIN cells c
            ON c.j = j.j AND c.col = {_cms_cell_sql('j.j', 'p.term')}
          GROUP BY p.term, p.exact_n
        )
        SELECT term, exact_n, cms_est, cms_est - exact_n AS overestimate
        FROM est
    """,
)
def q233_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (4×1024, md5-salted) over the corpus vocabulary,
    probed at the top-20 exact terms with the ≥0 overestimate audit (see
    block comment — one 4096-cell hash agg, top-k probe, broadcast
    estimate join)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("term"))
    exact = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    js = spark.range(_CMS_D).select(F.col("id").alias("j"))
    # cells from the vocabulary relation (count-weighted), not the token
    # stream — the d-way explode costs d×|vocab|, never d×|corpus|
    cells = (
        exact.crossJoin(F.broadcast(js))
        .selectExpr("j", f"{_cms_cell_spark('j', 'term')} AS col", "exact_n")
        .groupBy("j", "col")
        .agg(F.sum("exact_n").cast("bigint").alias("cell_n"))
    )
    probe = exact.orderBy(
        F.col("exact_n").desc(), "term"
    ).limit(_CMS_TOPK)
    probed = (
        F.broadcast(probe)
        .crossJoin(F.broadcast(js))
        .selectExpr(
            "term",
            "exact_n",
            "j",
            f"{_cms_cell_spark('j', 'term')} AS col",
        )
    )
    est = (
        probed.join(cells, ["j", "col"])
        .groupBy("term", "exact_n")
        .agg(F.min("cell_n").cast("bigint").alias("cms_est"))
    )
    return est.selectExpr(
        "term", "exact_n", "cms_est", "cms_est - exact_n AS overestimate"
    )


# ---------------------------------------------------------------------------
# q235 — n-gram novelty: which documents introduce new trigrams?
# ---------------------------------------------------------------------------
# Memorization/contamination triage for training corpora: a document whose
# trigrams have all been seen in earlier documents adds no new sequence
# material (a near-copy or boilerplate); one full of first-occurrence
# trigrams is genuinely novel. Novelty(doc) = fraction of the doc's
# DISTINCT trigrams whose global first occurrence (min doc_id, the
# ingestion-order stand-in) is this doc.
#
# Shape: positional trigram explode (map-side, the q113 guard for short
# docs), distinct (doc, tri) pairs, one vocabulary-sized min-aggregate,
# one equi-join back. All counts exact integers. At 100 TB the trigram
# vocabulary is the working set — same budget as q63's tf-idf postings;
# a rolling-hash of the trigram (q65) would shrink the shuffle width.
@register(
    "q235_ngram_novelty",
    bench=True,
    tags=("text", "dedup", "novelty"),
    oracle="""
        WITH tris AS (
          SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS tri
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t) - 1)
                           ELSE [] END) AS u(i)
        ),
        firsts AS (
          SELECT tri, MIN(doc_id) AS first_doc FROM tris GROUP BY tri
        )
        SELECT tris.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tris,
               CAST(SUM(CASE WHEN f.first_doc = tris.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN f.first_doc = tris.doc_id
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                 AS novelty
        FROM tris JOIN firsts f ON tris.tri = f.tri
        GROUP BY tris.doc_id
    """,
)
def q235_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of distinct trigrams first introduced by that
    document (ingestion order = doc_id) — the novelty triage for corpus
    curation (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    tris = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= 3)  # sequence(1, 0) descends (q113 lesson)
        .select(
            "doc_id",
            F.explode(F.expr("sequence(1, size(t) - 2)")).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.expr("element_at(t, i)"),
                F.expr("element_at(t, i + 1)"),
                F.expr("element_at(t, i + 2)"),
            ).alias("tri"),
        )
        .distinct()
    )
    firsts = tris.groupBy("tri").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        tris.join(firsts, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tris"),
            novel.cast("bigint").alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# q240 — zlib compression ratio (the Gopher-style compressibility gate)
# ---------------------------------------------------------------------------
def _compress_batch(batches):
    """Per-doc zlib(level=6) compressed size — the one curation signal that
    needs a real codec, hence the documented Python boundary (Arrow
    batches; zlib is C-speed, the per-row loop is just the call)."""
    import zlib

    for pdf in batches:
        raw = pdf["text"].str.encode("utf-8")
        out = pdf[["doc_id"]].copy()
        out["raw_len"] = raw.str.len().astype("int64")
        out["zlib_len"] = raw.map(
            lambda b: len(zlib.compress(b, 6))
        ).astype("int64")
        yield out


@register(
    "q240_compression_ratio",
    tags=("text", "curation", "udf"),
    # no SQL oracle: DuckDB has no zlib — rows-only at the driver; the
    # exact byte counts are pinned against python zlib in
    # tests/test_round4d_ops.py
)
def q240_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — low-compressibility text is
    noise/binary junk, high-compressibility is boilerplate/repetition; the
    two-sided gate from the Gopher curation rules. mapInPandas (q111's
    boundary discipline): narrow, shuffle-free, codec cost only. Ratio is
    a rational of two exact byte counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("raw_len", T.LongType()),
            T.StructField("zlib_len", T.LongType()),
        ]
    )
    return docs.mapInPandas(_compress_batch, schema).select(
        "doc_id",
        "raw_len",
        "zlib_len",
        (F.col("zlib_len").cast("double") / F.col("raw_len")).alias("ratio"),
    )


# ---------------------------------------------------------------------------
# q247 — TextTiling-style topic segmentation signal
# ---------------------------------------------------------------------------
# Topic-aware chunking for RAG/training pipelines: q100 chunks on fixed
# boundaries; TextTiling (Hearst) places boundaries where LEXICAL COHESION
# dips — the cosine similarity between adjacent fixed-size token blocks,
# with boundaries at strict local minima of the gap series. Emits the
# per-document segmentation profile (gap count, boundary count, min/mean
# cohesion) — the statistic that decides whether a document needs topic
# splitting at all.
#
# Shape: block term counts are one map-side explode + hash agg; adjacent-
# block cosine is an equi-join on (doc, term, block+1) — vocabulary-sized,
# never all-pairs (the q139 restraint); the gap series windows are per-doc
# (partitioned). Dot products and norms are exact integers; cosines are
# identical IEEE trees; the mean is nano-quantized before summing.
_TILE_BLOCK = 20


@register(
    "q247_text_tiling",
    tags=("text", "segmentation", "chunking"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, CAST((u.i - 1) // {_TILE_BLOCK} AS BIGINT) AS block,
                 t[u.i] AS term
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               UNNEST(range(1, len(t) + 1)) AS u(i)
        ),
        tc AS (
          SELECT doc_id, block, term, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2, 3
        ),
        norms AS (
          SELECT doc_id, block, CAST(SUM(c * c) AS BIGINT) AS nn
          FROM tc GROUP BY 1, 2
        ),
        dots AS (
          SELECT a.doc_id, a.block AS g, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
          FROM tc a
          JOIN tc b ON a.doc_id = b.doc_id AND b.block = a.block + 1
                    AND a.term = b.term
          GROUP BY 1, 2
        ),
        gaps AS (
          SELECT na.doc_id, na.block AS g,
                 CAST(COALESCE(d.dot, 0) AS DOUBLE)
                   / (sqrt(CAST(na.nn AS DOUBLE))
                      * sqrt(CAST(nb.nn AS DOUBLE))) AS sim
          FROM norms na
          JOIN norms nb ON na.doc_id = nb.doc_id AND nb.block = na.block + 1
          LEFT JOIN dots d ON d.doc_id = na.doc_id AND d.g = na.block
        ),
        w AS (
          SELECT doc_id, g, sim,
                 LAG(sim) OVER (PARTITION BY doc_id ORDER BY g) AS pv,
                 LEAD(sim) OVER (PARTITION BY doc_id ORDER BY g) AS nx
          FROM gaps
        )
        SELECT doc_id,
               CAST(COUNT(*) + 1 AS BIGINT) AS n_blocks,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(SUM(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
                              AND sim < pv AND sim < nx
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
               MIN(sim) AS min_sim,
               CAST(SUM(CAST(ROUND(1000000000.0 * sim) AS BIGINT)) AS DOUBLE)
                 / (1000000000.0 * COUNT(*)) AS mean_sim
        FROM w GROUP BY doc_id
    """,
)
def q247_text_tiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling cohesion profile per document: adjacent 20-token-block
    cosines, strict-local-minimum boundaries, nano-quantized mean (see
    block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).select(
        "doc_id",
        F.expr(f"CAST(pos div {_TILE_BLOCK} AS BIGINT)").alias("block"),
        "term",
    )
    # lazy cut: the block-term counts feed the norms and both sides of the
    # adjacent-block dot join (audit: 4 corpus scans/plan uncut)
    tc = toks.groupBy("doc_id", "block", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)
    norms = tc.groupBy("doc_id", "block").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("nn")
    )
    a, b = tc.alias("a"), tc.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.block") == F.col("a.block") + 1)
            & (F.col("a.term") == F.col("b.term")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("a.block").alias("g"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("bigint").alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    gaps = (
        na.join(
            nb,
            (F.col("na.doc_id") == F.col("nb.doc_id"))
            & (F.col("nb.block") == F.col("na.block") + 1),
        )
        .select(
            F.col("na.doc_id").alias("doc_id"),
            F.col("na.block").alias("g"),
            F.col("na.nn").alias("nna"),
            F.col("nb.nn").alias("nnb"),
        )
        .join(dots, ["doc_id", "g"], "left")
        .selectExpr(
            "doc_id",
            "g",
            "CAST(COALESCE(dot, 0) AS DOUBLE)"
            " / (sqrt(CAST(nna AS DOUBLE)) * sqrt(CAST(nnb AS DOUBLE)))"
            " AS sim",
        )
    )
    wd = W.partitionBy("doc_id").orderBy("g")
    w = gaps.select(
        "doc_id",
        "g",
        "sim",
        F.lag("sim").over(wd).alias("pv"),
        F.lead("sim").over(wd).alias("nx"),
    )
    return w.groupBy("doc_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_blocks"),
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(
            F.when(
                F.col("pv").isNotNull()
                & F.col("nx").isNotNull()
                & (F.col("sim") < F.col("pv"))
                & (F.col("sim") < F.col("nx")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_boundaries"),
        F.min("sim").alias("min_sim"),
        (
            F.sum(F.expr("CAST(ROUND(1000000000.0 * sim) AS BIGINT)")).cast(
                "double"
            )
            / (1000000000.0 * F.count(F.lit(1)))
        ).alias("mean_sim"),
    )


# ---------------------------------------------------------------------------
# q264 — source-level vocabulary overlap (corpus-granularity clone signal)
# ---------------------------------------------------------------------------
# Doc-level near-dup (q42/q43) misses a corpus-level failure: two crawl
# SOURCES that are substantially the same feed. The source-pair vocabulary
# Jaccard and containment — |Va∩Vb|/|Va∪Vb| and |Va∩Vb|/min(|Va|,|Vb|) —
# are the triage signals (high containment + asymmetric sizes = one feed
# wraps the other). All from the DISTINCT (source, term) relation: an
# equi-join on term produces intersections (vocabulary-sized, never
# doc-pairs), per-source sizes broadcast, union by inclusion-exclusion.
@register(
    "q264_source_vocab_overlap",
    tags=("text", "dedup", "governance"),
    oracle="""
        WITH st AS (
          SELECT DISTINCT source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        sizes AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM st GROUP BY source
        ),
        inter AS (
          SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS i
          FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT i.sa AS source_a, i.sb AS source_b,
               za.v AS vocab_a, zb.v AS vocab_b, i.i AS vocab_common,
               CAST(i.i AS DOUBLE) / (za.v + zb.v - i.i) AS jaccard,
               CAST(i.i AS DOUBLE) / least(za.v, zb.v) AS containment
        FROM inter i
        JOIN sizes za ON i.sa = za.source
        JOIN sizes zb ON i.sb = zb.source
    """,
)
def q264_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary Jaccard and containment — the corpus-
    granularity duplicate-feed triage (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    # lazy cut: sizes + both overlap-join sides reuse the vocab relation
    # (audit: 4 corpus scans/plan uncut)
    st = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).distinct().localCheckpoint(eager=False)
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    return (
        inter.join(F.broadcast(sizes.selectExpr("source AS sa", "v AS vocab_a")), "sa")
        .join(F.broadcast(sizes.selectExpr("source AS sb", "v AS vocab_b")), "sb")
        .selectExpr(
            "sa AS source_a",
            "sb AS source_b",
            "vocab_a",
            "vocab_b",
            "i AS vocab_common",
            "CAST(i AS DOUBLE) / (vocab_a + vocab_b - i) AS jaccard",
            "CAST(i AS DOUBLE) / least(vocab_a, vocab_b) AS containment",
        )
    )


# ---------------------------------------------------------------------------
# q276 — Burrows' Delta: stylometric distance between sources
# ---------------------------------------------------------------------------
# Authorship/style attribution's standard measure: z-score each source's
# relative frequency of the corpus's top-K most frequent words (function
# words carry style), then Delta(a,b) = mean |z_a − z_b| over those words.
# Complements q217 (lexical DISTRIBUTION drift) with a style-space
# metric robust to topic. Frequencies are exact integer counts over
# integer totals; the per-word mean/sd across sources come from exact
# micro-quantized frequency integers, so the z-matrix and Delta are
# engine-identical. Top-K words are a TakeOrderedAndProject; the source-
# pair join is source-vocabulary sized.
_DELTA_TOPK = 30


@register(
    "q276_burrows_delta",
    tags=("text", "stylometry", "distance"),
    oracle=f"""
        WITH toks AS (
          SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        topw AS (
          SELECT w FROM toks GROUP BY w
          ORDER BY COUNT(*) DESC, w LIMIT {_DELTA_TOPK}
        ),
        ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
               FROM toks GROUP BY source),
        freq AS (
          SELECT t.source, t.w, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks t JOIN topw ON t.w = topw.w
          GROUP BY t.source, t.w
        ),
        grid AS (
          SELECT ns.source, topw.w, ns.n, COALESCE(freq.c, 0) AS c,
                 CAST(ROUND(1000000000.0 * COALESCE(freq.c, 0) / ns.n)
                      AS BIGINT) AS fq
          FROM ns CROSS JOIN topw
          LEFT JOIN freq ON freq.source = ns.source AND freq.w = topw.w
        ),
        wstats AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(fq) AS BIGINT) AS s1,
                 CAST(SUM(fq * fq) AS BIGINT) AS s2
          FROM grid GROUP BY w
        ),
        z AS (
          SELECT g.source, g.w,
                 (CAST(g.fq AS DOUBLE) - CAST(ws.s1 AS DOUBLE) / ws.k)
                 / sqrt((CAST(ws.k AS DOUBLE) * ws.s2
                         - CAST(ws.s1 AS DOUBLE) * ws.s1)
                        / (CAST(ws.k AS DOUBLE) * ws.k)) AS zz
          FROM grid g JOIN wstats ws ON g.w = ws.w
        ),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(SUM(CAST(ROUND(1000000.0 * abs(a.zz - b.zz))
                               AS BIGINT)) AS DOUBLE)
                   / (1000000.0 * COUNT(*)) AS delta
          FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
          GROUP BY a.source, b.source
        )
        SELECT source_a, source_b, delta FROM pairs
    """,
)
def q276_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair over the top-30 corpus
    words — exact quantized frequencies, cross-source z-scores, micro-
    quantized mean absolute difference (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    # lazy cuts: topw (30 rows) is referenced twice and grid (sources×30)
    # four-ways downstream — uncut, the corpus explode re-derives per
    # reference (16 document scans per plan in the audit)
    topw = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(_DELTA_TOPK)
        .select("w")
        .localCheckpoint(eager=False)
    )
    ns = toks.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    freq = (
        toks.join(F.broadcast(topw), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        ns.crossJoin(F.broadcast(topw))
        .join(freq, ["source", "w"], "left")
        .select(
            "source",
            "w",
            "n",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.expr(
                "CAST(ROUND(1000000000.0 * COALESCE(c, 0) / n) AS BIGINT)"
            ).alias("fq"),
        )
    ).localCheckpoint(eager=False)
    wstats = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("fq").cast("bigint").alias("s1"),
        F.sum(F.col("fq") * F.col("fq")).cast("bigint").alias("s2"),
    )
    z = grid.join(wstats, "w").selectExpr(
        "source",
        "w",
        "(CAST(fq AS DOUBLE) - CAST(s1 AS DOUBLE) / k)"
        " / sqrt((CAST(k AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
        "        / (CAST(k AS DOUBLE) * k)) AS zz",
    )
    a, b = z.alias("a"), z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            (
                F.sum(
                    F.expr(
                        "CAST(ROUND(1000000.0 * abs(a.zz - b.zz)) AS BIGINT)"
                    )
                ).cast("double")
                / (1000000.0 * F.count(F.lit(1)))
            ).alias("delta")
        )
    )


# ---------------------------------------------------------------------------
# q278 — n-gram coverage curve (how head-heavy is the corpus?)
# ---------------------------------------------------------------------------
# Tokenizer and cache design both start from one number: what share of
# all token occurrences do the top-k vocabulary items cover? The coverage
# curve at k ∈ {10, 100, 1000} — exact rank by (count desc, token) then
# cumulative mass — says how much a small vocabulary/cache buys. The rank
# rides the VOCABULARY relation (the documented value-domain window), the
# masses are exact integers, and the three curve points are conditional
# sums — no per-k passes.
_COV_KS = (10, 100, 1000)


@register(
    "q278_ngram_coverage",
    tags=("text", "vocabulary", "coverage"),
    oracle=f"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        vocab AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
        ),
        ranked AS (
          SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
                 CAST(SUM(c) OVER () AS BIGINT) AS total
          FROM vocab
        )
        SELECT k, CAST(MIN(total) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN rk <= k THEN c ELSE 0 END) AS BIGINT)
                 AS covered_tokens,
               CAST(SUM(CASE WHEN rk <= k THEN c ELSE 0 END) AS DOUBLE)
                 / MIN(total) AS coverage
        FROM ranked
        CROSS JOIN (SELECT unnest(ARRAY[{", ".join(str(k) for k in _COV_KS)}])
                      AS k)
        GROUP BY k
    """,
)
def q278_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-10/100/1000 vocabulary items — the
    head-heaviness curve for tokenizer/cache sizing (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ranked = vocab.select(
        "c",
        F.row_number().over(W.orderBy(F.col("c").desc(), "w")).alias("rk"),
        F.sum("c").over(W.partitionBy()).cast("bigint").alias("total"),
    )
    ks = literal_df(spark, [(k,) for k in _COV_KS], "k bigint")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.min("total").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("covered_tokens"),
            (
                F.sum(
                    F.when(F.col("rk") <= F.col("k"), F.col("c")).otherwise(0)
                ).cast("double")
                / F.min("total")
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# q284 — weighted Jaccard between source term-frequency vectors
# ---------------------------------------------------------------------------
# q264 compares sources as SETS (a word counts once); weighted Jaccard
#     J_w(a,b) = Σ_t min(f_at, f_bt) / Σ_t max(f_at, f_bt)
# compares them as BAGS — the right similarity when one feed repeats its
# vocabulary at very different rates. The union side never needs an outer
# join: per term max = f_a + f_b − min, so Σmax = N_a + N_b − Σmin and
# one INNER equi-join on term suffices (the algebraic identity that keeps
# this vocabulary-sized). All exact integers until the final ratio.
@register(
    "q284_weighted_jaccard",
    tags=("text", "similarity", "governance"),
    oracle="""
        WITH tf AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        freq AS (
          SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
          FROM tf GROUP BY source, term
        ),
        totals AS (
          SELECT source, CAST(SUM(f) AS BIGINT) AS n FROM freq GROUP BY source
        ),
        mins AS (
          SELECT a.source AS sa, b.source AS sb,
                 CAST(SUM(least(a.f, b.f)) AS BIGINT) AS sum_min
          FROM freq a JOIN freq b
            ON a.term = b.term AND a.source < b.source
          GROUP BY a.source, b.source
        )
        SELECT m.sa AS source_a, m.sb AS source_b,
               ta.n AS tokens_a, tb.n AS tokens_b, m.sum_min,
               CAST(m.sum_min AS DOUBLE) / (ta.n + tb.n - m.sum_min)
                 AS weighted_jaccard
        FROM mins m
        JOIN totals ta ON m.sa = ta.source
        JOIN totals tb ON m.sb = tb.source
    """,
)
def q284_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words weighted Jaccard for every source pair via the
    Σmax = N_a + N_b − Σmin identity — inner join only, vocabulary-sized
    (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    # lazy cut: totals + both weighted-min join sides reuse the term
    # frequency table (audit: 4 corpus scans/plan uncut)
    freq = tf.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    ).localCheckpoint(eager=False)
    totals = freq.groupBy("source").agg(F.sum("f").cast("bigint").alias("n"))
    a, b = freq.alias("a"), freq.alias("b")
    mins = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .agg(
            F.sum(F.least(F.col("a.f"), F.col("b.f")))
            .cast("bigint")
            .alias("sum_min")
        )
    )
    return (
        mins.join(F.broadcast(totals.selectExpr("source AS sa", "n AS tokens_a")), "sa")
        .join(F.broadcast(totals.selectExpr("source AS sb", "n AS tokens_b")), "sb")
        .selectExpr(
            "sa AS source_a",
            "sb AS source_b",
            "tokens_a",
            "tokens_b",
            "sum_min",
            "CAST(sum_min AS DOUBLE) / (tokens_a + tokens_b - sum_min)"
            " AS weighted_jaccard",
        )
    )


# ---------------------------------------------------------------------------
# q301 — vocabulary growth curve (Heaps-law readout, log-free)
# ---------------------------------------------------------------------------
# Tokenizer sizing's second input (q278 gives head coverage; this gives
# GROWTH): how many distinct terms has the corpus seen after its first
# 10³/10⁴/10⁵ running tokens? Token positions are assembled scale-
# correctly: per-document token counts cumsum into document START offsets
# on the doc-sized relation (window by doc_id), each term's global first
# position = min(doc_start + in-doc index), and the curve counts first
# positions under each literal threshold — one vocabulary-sized
# aggregate, no global token sort.
_VG_THRESH = (1000, 10000, 100000)


@register(
    "q301_vocab_growth",
    tags=("text", "vocabulary", "growth"),
    oracle=f"""
        WITH doc_len AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents
        ),
        starts AS (
          SELECT doc_id,
                 CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start0
          FROM doc_len
        ),
        firsts AS (
          SELECT t.term, MIN(s.start0 + t.i - 1) AS first_pos
          FROM (SELECT doc_id, u.i, tt[u.i] AS term
                FROM (SELECT doc_id, string_split(text, ' ') AS tt
                      FROM documents),
                     UNNEST(range(1, len(tt) + 1)) AS u(i)) t
          JOIN starts s ON t.doc_id = s.doc_id
          GROUP BY t.term
        )
        SELECT k.k AS n_tokens_seen,
               CAST(COUNT(CASE WHEN f.first_pos < k.k THEN 1 END) AS BIGINT)
                 AS distinct_terms
        FROM firsts f
        CROSS JOIN (SELECT unnest(ARRAY[{", ".join(str(k) for k in _VG_THRESH)}]) AS k) k
        GROUP BY k.k
    """,
)
def q301_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct vocabulary after the first 10³/10⁴/10⁵ running tokens
    (doc-offset cumsum + per-term first position — see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    doc_len = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    starts = doc_len.select(
        "doc_id",
        F.coalesce(
            F.sum("n").over(
                W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint").alias("start0"),
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "term")
    )
    firsts = (
        toks.join(F.broadcast(starts), "doc_id")
        .select("term", (F.col("start0") + F.col("i0")).alias("pos"))
        .groupBy("term")
        .agg(F.min("pos").alias("first_pos"))
    )
    ks = literal_df(spark, [(k,) for k in _VG_THRESH], "k bigint")
    return (
        firsts.crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").alias("n_tokens_seen"))
        .agg(
            F.count(F.when(F.col("first_pos") < F.col("k"), 1))
            .cast("bigint")
            .alias("distinct_terms")
        )
    )


# ---------------------------------------------------------------------------
# q303 — content-defined chunking: storage-style dedup of the corpus
# ---------------------------------------------------------------------------
# Backup systems dedupe at CONTENT-DEFINED boundaries: a chunk ends where
# a rolling hash hits a modulus condition, so an insertion only reshapes
# its local chunk instead of shifting every fixed-size block (the Rabin/
# gear trick). Here the q65 shingle hash defines boundaries (h % 64 == 0
# after token p), chunks assemble by per-doc cumulative boundary count +
# ordered concat (q224 discipline), and the corpus-level readout is the
# storage math: distinct-chunk ratio and bytes after dedup. All md5-
# derived — fully oracle-replayable.
_CDC_MOD = 64


@register(
    "q303_cdc_chunking",
    bench=True,
    tags=("text", "dedup", "storage"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, u.i AS pos, tt[u.i] AS tok,
                 CAST(len(tt) AS BIGINT) AS n
          FROM (SELECT doc_id, string_split(text, ' ') AS tt FROM documents),
               UNNEST(range(1, len(tt) + 1)) AS u(i)
        ),
        sh AS (
          SELECT t.doc_id, t.pos,
                 CASE WHEN CAST(concat('0x', substring(md5(
                        concat_ws(' ', t.tok, t2.tok, t3.tok, t4.tok)),
                        1, 15)) AS BIGINT) % {_CDC_MOD} = 0
                      THEN 1 ELSE 0 END AS flag
          FROM toks t
          JOIN toks t2 ON t2.doc_id = t.doc_id AND t2.pos = t.pos + 1
          JOIN toks t3 ON t3.doc_id = t.doc_id AND t3.pos = t.pos + 2
          JOIN toks t4 ON t4.doc_id = t.doc_id AND t4.pos = t.pos + 3
        ),
        assigned AS (
          SELECT t.doc_id, t.pos, t.tok,
                 CAST(COALESCE(SUM(s.flag) OVER (PARTITION BY t.doc_id
                       ORDER BY t.pos ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
          FROM toks t LEFT JOIN sh s
            ON t.doc_id = s.doc_id AND t.pos = s.pos
        ),
        chunks AS (
          SELECT doc_id, chunk_id,
                 string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens
          FROM assigned GROUP BY doc_id, chunk_id
        ),
        digests AS (
          SELECT md5(chunk_text) AS digest,
                 CAST(length(chunk_text) AS BIGINT) AS bytes,
                 n_tokens
          FROM chunks
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_distinct,
               CAST(COUNT(DISTINCT digest) AS DOUBLE) / COUNT(*)
                 AS distinct_ratio,
               CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_chunk_tokens,
               CAST(SUM(bytes) AS BIGINT) AS bytes_total,
               (SELECT CAST(SUM(b) AS BIGINT) FROM
                  (SELECT MIN(bytes) AS b FROM digests GROUP BY digest))
                 AS bytes_after_dedup
        FROM digests
    """,
)
def q303_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of the corpus with the storage-dedup
    readout — rolling-hash boundaries, ordered chunk assembly, digest
    dedup (see block comment)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # boundary flags are computed map-side as a per-doc ARRAY aligned with
    # the token array (flag[p] = rolling-hash condition on the 4-gram
    # starting at token p; the last 3 positions have no 4-gram -> 0), then
    # zipped with the tokens and exploded ONCE. The r4 version exploded
    # tokens and shingles separately and shuffle-joined them back on
    # (doc_id, pos) — a full extra shuffle of the corpus-sized relation
    # that this zip removes; the only remaining shuffle before the final
    # agg is the cumsum window's partition by doc_id.
    zipped = docs.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                F.col("toks"),
                F.expr(
                    "CASE WHEN size(toks) >= 4 THEN concat(transform(sequence(1, size(toks) - 3),"
                    " i -> CASE WHEN CAST(conv(substring(md5(CAST("
                    "concat_ws(' ', toks[i-1], toks[i], toks[i+1], toks[i+2])"
                    f" AS BINARY)), 1, 15), 16, 10) AS BIGINT) % {_CDC_MOD} = 0"
                    " THEN 1 ELSE 0 END), array_repeat(0, 3))"
                    " ELSE transform(toks, t -> 0) END"
                ).alias("flags"),
            )
        ).alias("p0", "z"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.col("z.toks").alias("tok"),
        F.col("z.flags").alias("flag"),
    )
    wcum = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(
            W.unboundedPreceding, -1
        )
    )
    assigned = zipped.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(
            F.sum("flag").over(wcum), F.lit(0)
        ).cast("bigint").alias("chunk_id"),
    )
    chunks = assigned.groupBy("doc_id", "chunk_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " x -> x.tok), ' ')"
        ).alias("chunk_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )
    digests = chunks.select(
        F.md5(F.col("chunk_text").cast("binary")).alias("digest"),
        F.length("chunk_text").cast("bigint").alias("bytes"),
        "n_tokens",
    )
    per_digest = digests.groupBy("digest").agg(F.min("bytes").alias("b"))
    stats = digests.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("digest").cast("bigint").alias("n_distinct"),
        (F.countDistinct("digest").cast("double") / F.count(F.lit(1))).alias(
            "distinct_ratio"
        ),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
            "avg_chunk_tokens"
        ),
        F.sum("bytes").cast("bigint").alias("bytes_total"),
    )
    saved = per_digest.agg(F.sum("b").cast("bigint").alias("bytes_after_dedup"))
    return stats.crossJoin(F.broadcast(saved))
