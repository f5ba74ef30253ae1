"""Training-data pipeline operators beyond the dedup/textstats ladder:
PII redaction, Gopher-style repetition filtering, benchmark contamination
checks, temperature-based source mixing, and paragraph-level dedup with
document reassembly — the curation passes a 100 TB corpus build runs
between raw crawl and tokenizer.

Scale notes:
- PII redaction and repetition metrics are narrow map-side expressions
  (regexp/HOF over the text column) — zero shuffle, codegen end to end.
- Contamination joins the corpus n-gram relation against a BROADCAST
  benchmark n-gram set (the benchmark is always tiny relative to the
  corpus — the standard decontamination shape).
- Temperature mixing needs one tiny per-source aggregate (collected,
  ~|sources| rows) and is otherwise a map-side deterministic-hash filter:
  no shuffle of the corpus at all.
- Paragraph dedup shuffles once on the chunk hash (first-occurrence wins)
  and once per doc to reassemble — both keyed, both AQE-friendly.

Oracle discipline: all float math is either integer cross-multiplication
(repetition thresholds), IEEE-exact ops (sqrt/div on identical inputs),
or DECIMAL-summed before division (mixing weights), so DuckDB replays
every query bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from docling_api_spark.plans.registry import register
from docling_api_spark.tables import load_table

# ---------------------------------------------------------------------------
# shared n-gram expressions (word n-grams over the whitespace tokenization)
# ---------------------------------------------------------------------------


def ngrams_spark(n: int) -> str:
    """Spark SQL expr: array of word n-grams of `toks` (0-based indexing)."""
    words = ", ".join(f"toks[i-1+{k}]" for k in range(n))
    return f"""
        CASE WHEN size(toks) >= {n}
             THEN transform(sequence(1, size(toks) - {n - 1}),
                            i -> concat_ws(' ', {words}))
             ELSE CAST(array() AS ARRAY<STRING>) END
    """


def ngrams_duck(n: int) -> str:
    """DuckDB twin: n-grams of list `t` (1-based, range end-exclusive)."""
    words = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
    return f"""
        CASE WHEN len(t) >= {n}
             THEN list_transform(range(1, len(t) - {n - 2}), i -> {words})
             ELSE CAST([] AS VARCHAR[]) END
    """


# ---------------------------------------------------------------------------
# q67 — PII detection + redaction
# ---------------------------------------------------------------------------
# Regex subset chosen to mean the same thing in Java regex and RE2
# (DuckDB): literal runs, [0-9]+ classes, no lookaround.
_EMAIL_RE = r"user[0-9]+@example\.com"
_PHONE_RE = r"555-[0-9]{4}"


@register(
    "q67_pii_redaction",
    tags=("text", "pii", "redaction"),
    oracle=f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-0' || CAST(100 + doc_id % 900 AS VARCHAR)
                   AS raw
          FROM documents
        )
        SELECT
          doc_id,
          CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
          CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
          md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                             '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
        FROM aug
    """,
)
def q67_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect and redact PII-shaped spans (emails, phone numbers).

    The corpus is synthetic word soup, so deterministic PII is injected
    per row first (both engines replay the injection) — the redaction then
    provably fires and the full redacted text is value-checked via md5.
    Pure map-side regexp work: no shuffle, stays in codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-0"),
            (100 + F.col("doc_id") % 900).cast("string"),
        ).alias("raw"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace("raw", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return aug.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("raw", F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# q68 — repetition-based quality filter (Gopher-style)
# ---------------------------------------------------------------------------
# keep thresholds as integer cross-multiplications (no float compare):
#   distinct words  >  45% of words      (drop heavily repeated docs)
#   top word count  <= 12% of words      (drop single-token spam)
#   top bigram count<= 8%  of bigrams    (drop template boilerplate)
_MIN_DISTINCT_PCT = 45
_MAX_TOP_WORD_PCT = 12
_MAX_TOP_BIGRAM_PCT = 8


@register(
    "q68_repetition_filter",
    tags=("text", "quality", "repetition"),
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        words AS (
          SELECT doc_id, u.w AS word FROM tok, UNNEST(t) AS u(w)
        ),
        wc AS (
          SELECT doc_id, COUNT(*) AS n_words,
                 COUNT(DISTINCT word) AS n_distinct
          FROM words GROUP BY doc_id
        ),
        topw AS (
          SELECT doc_id, MAX(c) AS top_word_n FROM (
            SELECT doc_id, COUNT(*) AS c FROM words GROUP BY doc_id, word
          ) GROUP BY doc_id
        ),
        bigrams AS (
          SELECT doc_id, u.g AS gram
          FROM tok, UNNEST({ngrams_duck(2)}) AS u(g)
        ),
        topb AS (
          SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n FROM (
            SELECT doc_id, gram, COUNT(*) AS c FROM bigrams GROUP BY doc_id, gram
          ) GROUP BY doc_id
        )
        SELECT
          wc.doc_id,
          CAST(wc.n_words AS BIGINT) AS n_words,
          CAST(wc.n_distinct AS BIGINT) AS n_distinct,
          CAST(topw.top_word_n AS BIGINT) AS top_word_n,
          CAST(topb.n_bigrams AS BIGINT) AS n_bigrams,
          CAST(topb.top_bigram_n AS BIGINT) AS top_bigram_n,
          (wc.n_distinct * 100 > wc.n_words * {_MIN_DISTINCT_PCT}
           AND topw.top_word_n * 100 <= wc.n_words * {_MAX_TOP_WORD_PCT}
           AND topb.top_bigram_n * 100 <= topb.n_bigrams * {_MAX_TOP_BIGRAM_PCT})
            AS keep
        FROM wc JOIN topw USING (doc_id) JOIN topb USING (doc_id)
    """,
)
def q68_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics + keep decision per document:
    distinct-word fraction, top-word share, top-bigram share.

    Thresholds are integer cross-multiplications (count*100 vs total*pct) —
    no float compare anywhere, so the keep flag replays exactly. Map-side
    n-gram arrays; the only shuffles are the keyed (doc_id[, gram])
    aggregations, which partial-aggregate map-side first.
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    words = tok.select("doc_id", F.explode("toks").alias("word"))
    wc = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("word").alias("n_distinct"),
    )
    topw = (
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_n"))
    )
    bigrams = tok.select(
        "doc_id", F.explode(F.expr(ngrams_spark(2))).alias("gram")
    )
    topb = (
        bigrams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n"))
    )
    keep = (
        (F.col("n_distinct") * 100 > F.col("n_words") * _MIN_DISTINCT_PCT)
        & (F.col("top_word_n") * 100 <= F.col("n_words") * _MAX_TOP_WORD_PCT)
        & (F.col("top_bigram_n") * 100 <= F.col("n_bigrams") * _MAX_TOP_BIGRAM_PCT)
    )
    return (
        wc.join(topw, "doc_id")
        .join(topb, "doc_id")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint"),
            F.col("n_distinct").cast("bigint"),
            F.col("top_word_n").cast("bigint"),
            F.col("n_bigrams").cast("bigint"),
            F.col("top_bigram_n").cast("bigint"),
            keep.alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# q69 — benchmark contamination check (n-gram overlap)
# ---------------------------------------------------------------------------
CONTAM_N = 8  # 8-gram overlap, the common decontamination window
_BENCH_MOD = 97  # doc_id % 97 == 0 → the held-out "benchmark" slice


@register(
    "q69_contamination_check",
    tags=("text", "contamination", "dedup"),
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
          SELECT DISTINCT doc_id, u.g AS gram
          FROM tok, UNNEST({ngrams_duck(CONTAM_N)}) AS u(g)
        ),
        bench AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id % {_BENCH_MOD} = 0
        )
        SELECT
          g.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_contaminated,
          SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
        FROM grams g LEFT JOIN bench b ON g.gram = b.gram
        WHERE g.doc_id % {_BENCH_MOD} <> 0
        GROUP BY g.doc_id
    """,
)
def q69_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any 8-gram with the benchmark slice
    (doc_id % 97 == 0 stands in for a held-out eval set).

    The benchmark n-gram set is BROADCAST — it is tiny relative to the
    corpus by construction (eval sets are KBs against TBs), so the check
    costs one map-side explode + broadcast left join + keyed aggregation.
    This is the standard pre-training decontamination pass.
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    grams = tok.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(ngrams_spark(CONTAM_N)))).alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint"),
            F.col("n_contaminated").cast("bigint"),
            (F.col("n_contaminated") > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# q95 — temperature-based source mixing
# ---------------------------------------------------------------------------
MIX_ALPHA_SQRT = True  # weight ∝ sqrt(source count) — temperature 0.5
MIX_TARGET = 250  # target docs in the mixed sample (at any sf: a budget)


@register(
    "q95_temperature_mix",
    tags=("sampling", "mixing"),
    oracle=f"""
        WITH c AS (
          SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        ),
        w AS (
          SELECT source, n,
                 CAST(ROUND(sqrt(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wt
          FROM c
        ),
        r AS (
          SELECT source, n,
                 least(1.0,
                       ({MIX_TARGET} * CAST(wt AS DOUBLE))
                       / (CAST((SELECT SUM(wt) FROM w) AS DOUBLE) * n)) AS rate
          FROM w
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN r ON d.source = r.source
        WHERE CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              < CAST(floor(r.rate * 4294967296) AS BIGINT)
    """,
)
def q95_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 source mixing: per-source sampling rates
    ∝ sqrt(count)/count, applied as a deterministic md5 hash filter.

    Exact cross-engine replay: sqrt is IEEE-correctly-rounded, the weight
    sum goes through DECIMAL(18,6) (order-independent), and selection
    compares an md5-derived 32-bit uniform against floor(rate·2^32). One
    tiny per-source aggregate joins back broadcast; the corpus itself is
    never shuffled — the sample is a map-side filter, which is what makes
    temperature mixing viable over 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = counts.select(
        "source",
        "n",
        F.round(F.sqrt(F.col("n").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("wt"),
    )
    total_wt = w.agg(F.sum("wt").alias("s"))  # exact decimal sum
    rates = (
        w.crossJoin(F.broadcast(total_wt))
        .select(
            "source",
            F.least(
                F.lit(1.0),
                (F.lit(MIX_TARGET) * F.col("wt").cast("double"))
                / (F.col("s").cast("double") * F.col("n")),
            ).alias("rate"),
        )
    )
    u = F.expr(
        "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(u < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("bigint"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# q97 — paragraph-level exact dedup with document reassembly
# ---------------------------------------------------------------------------
PARA_WORDS = 20  # "paragraph" = 20-word chunk (corpus has no line breaks)


@register(
    "q97_paragraph_dedup",
    tags=("dedup", "paragraph", "reassembly"),
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        chunks AS (
          SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                 array_to_string(t[i * {PARA_WORDS} + 1 : (i + 1) * {PARA_WORDS}], ' ')
                   AS chunk
          FROM tok,
               UNNEST(range(0, CAST(ceil(len(t) / {PARA_WORDS}.0) AS BIGINT))) AS u(i)
        ),
        ranked AS (
          SELECT doc_id, chunk_idx, chunk,
                 ROW_NUMBER() OVER (
                   PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx
                 ) AS rn
          FROM chunks
        )
        SELECT
          doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                                  ORDER BY chunk_idx), ''))
            AS rebuilt_md5
        FROM ranked
        GROUP BY doc_id
    """,
)
def q97_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup (RefinedWeb/C4-style): split docs into
    20-word chunks, keep only each chunk's globally-first occurrence
    (ordered by doc_id, position), and reassemble the surviving document.

    The first-occurrence rule is a window over md5(chunk) — one keyed
    shuffle of (hash, doc, idx), never the full text; reassembly is one
    keyed aggregation per doc. The rebuilt text is value-checked via md5
    (sorted both sides by position through the ordered aggregation).
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    chunks = tok.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"""
                transform(sequence(0, CAST(ceil(size(toks) / {PARA_WORDS}.0) AS INT) - 1),
                          c -> concat_ws(' ', slice(toks, c * {PARA_WORDS} + 1, {PARA_WORDS})))
                """
            )
        ).alias("chunk_idx", "chunk"),
    ).select("doc_id", F.col("chunk_idx").cast("bigint").alias("chunk_idx"), "chunk")
    win = W.partitionBy(F.md5(F.col("chunk").cast("binary"))).orderBy(
        "doc_id", "chunk_idx"
    )
    ranked = chunks.withColumn("rn", F.row_number().over(win))
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") == 1,
                        F.struct(F.col("chunk_idx").alias("i"), F.col("chunk").alias("c")),
                    )
                )
            ),
            lambda s: s["c"],
        ),
        " ",
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.md5(rebuilt.cast("binary")).alias("rebuilt_md5"),
    )


# ---------------------------------------------------------------------------
# q73 — sequence packing into fixed token-budget bins
# ---------------------------------------------------------------------------
PACK_BUDGET = 2048  # tokens per training sequence (context-window budget)


@register(
    "q73_sequence_packing",
    tags=("curation", "packing", "window"),
    bench=True,
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents
        ),
        binned AS (
          SELECT source, doc_id, n_tok,
                 CAST(COALESCE(SUM(n_tok) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) // {PACK_BUDGET} AS BIGINT) AS bin_id
          FROM tok
        )
        SELECT source, bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM binned
        GROUP BY source, bin_id
    """,
)
def q73_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences: within each
    source, docs are laid out in doc_id order and assigned to bin
    floor(exclusive-prefix-tokens / budget) — the deterministic contiguous
    packing a tokenizer shard-writer performs before serializing examples.

    All math is integer (token counts, prefix sums, floor division), so the
    oracle replays bit-for-bit. The window partitions by source — there is
    no global sort; each source packs independently, which is the only
    packing shape that scales (a single global ORDER BY doc_id over 100 TB
    would serialize into one reducer; per-shard contiguous packing is what
    production tokenizer pipelines do).
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    cum_excl = F.coalesce(
        F.sum("n_tok").over(
            W.partitionBy("source").orderBy("doc_id").rowsBetween(
                W.unboundedPreceding, -1
            )
        ),
        F.lit(0),
    )
    binned = tok.withColumn("cum", cum_excl).withColumn(
        "bin_id", F.expr(f"cum div {PACK_BUDGET}").cast("bigint")
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("bin_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# q74 — curriculum quality deciles per language
# ---------------------------------------------------------------------------


@register(
    "q74_curriculum_buckets",
    tags=("curation", "curriculum", "ntile"),
    oracle="""
        WITH scored AS (
          SELECT doc_id, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS score,
                 ntile(10) OVER (
                   PARTITION BY lang
                   ORDER BY CAST(len(string_split(text, ' ')) AS BIGINT), doc_id
                 ) AS decile
          FROM documents
        )
        SELECT lang, CAST(decile AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(score) AS BIGINT) AS min_score,
               CAST(MAX(score) AS BIGINT) AS max_score,
               CAST(SUM(score) AS BIGINT) AS sum_score
        FROM scored
        GROUP BY lang, decile
    """,
)
def q74_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: rank documents into quality deciles per
    language (score = token count; tie-broken by doc_id so ntile is a total
    order and both engines agree), then profile each bucket — the pass that
    feeds easy→hard data ordering or per-decile mix weights.

    ntile partitions by lang, so the sort is per-language, not global; the
    decile profile is a keyed aggregate. At 100 TB the per-lang sort is the
    cost — acceptable because curriculum assignment is a once-per-corpus
    pass, and a sampled quantile cut (approx_percentile boundaries joined
    broadcast) is the cheaper substitute when exact deciles aren't needed.
    """
    scored = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("score"),
    )
    decile = F.ntile(10).over(W.partitionBy("lang").orderBy("score", "doc_id"))
    return (
        scored.withColumn("decile", decile.cast("bigint"))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
    )


# ---------------------------------------------------------------------------
# q75 — duplicated-span fraction (stride-1 n-gram overlap diagnosis)
# ---------------------------------------------------------------------------
SPAN_N = 16  # span length in words (stride 1 — every position starts a span)


@register(
    "q75_span_dedup_fraction",
    tags=("dedup", "spans", "diagnosis"),
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        spans AS (
          SELECT DISTINCT doc_id, md5(u.g) AS gh
          FROM tok, UNNEST({ngrams_duck(SPAN_N)}) AS u(g)
        ),
        owners AS (
          SELECT gh, MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM spans GROUP BY gh
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN o.lo <> s.doc_id OR o.hi <> s.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        FROM spans s JOIN owners o USING (gh)
        GROUP BY s.doc_id
    """,
)
def q75_span_dedup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication diagnosis (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): for each document, how many of its
    distinct stride-1 16-word spans also occur in ANOTHER document. Fixed-
    chunk dedup (q97) misses duplicates that straddle chunk boundaries;
    stride-1 spans see every alignment.

    Scale shape: spans travel as 16-byte md5 hashes, never text; per-doc
    `array_distinct` happens map-side BEFORE the explode; sharedness is
    decided by MIN/MAX(doc_id) per span hash — one keyed aggregation with
    map-side partials, no count-distinct and no self-join — then one keyed
    join back and a per-doc aggregate. The stride-1 explode is the
    inherent cost of span-level resolution (|tokens| rows/doc); a
    production pass samples positions (stride s or a hash-gate on the
    span) for a 1/s-cost unbiased estimate of the same fraction.
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    spans = (
        tok.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.expr(ngrams_spark(SPAN_N)))
            ).alias("g"),
        )
        .select("doc_id", F.md5(F.col("g").cast("binary")).alias("gh"))
    )
    owners = spans.groupBy("gh").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    shared = (F.col("lo") != F.col("doc_id")) | (F.col("hi") != F.col("doc_id"))
    return (
        spans.join(owners, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(shared, 1).otherwise(0)).cast("bigint").alias("n_shared"),
        )
    )


# ---------------------------------------------------------------------------
# q125 — null imputation with group means (data-repair pass)
# ---------------------------------------------------------------------------
@register(
    "q125_impute_group_mean",
    tags=("curation", "impute", "repair"),
    oracle="""
        WITH marked AS (
          SELECT event_type,
                 CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
          FROM events
        ),
        means AS (
          SELECT event_type,
                 CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(v) AS mu
          FROM marked GROUP BY event_type
        )
        SELECT
          m.event_type,
          CAST(SUM(CASE WHEN m.v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
          COUNT(*) AS n_total,
          CAST(SUM(CAST(COALESCE(m.v, mm.mu) AS DECIMAL(28,6))) AS DOUBLE)
            AS filled_sum
        FROM marked m JOIN means mm ON m.event_type = mm.event_type
        GROUP BY m.event_type
    """,
)
def q125_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation: rows with a (simulated) missing `value` are
    filled with their event type's mean over the observed rows — the
    standard data-repair pass before numeric featurization.

    Two aggregations: per-group exact-decimal means (tiny, broadcast
    back) and the verification aggregate over the filled column. The
    missing mask is deterministic (event_id % 13) so the operator is
    self-contained on the driver's fixed tables; in production the mask
    is `value IS NULL`. The filled column mixes original doubles with
    the group-mean double — both engines see identical values, and the
    checksum goes through the DECIMAL exact-sum.
    """
    ev = load_table(spark, sf_dir, "events")
    marked = ev.select(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    means = marked.groupBy("event_type").agg(
        (F.sum(F.col("v").cast("decimal(28,6)")).cast("double") / F.count("v")).alias("mu")
    )
    return (
        marked.join(F.broadcast(means), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("bigint").alias("n_imputed"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.coalesce("v", "mu").cast("decimal(28,6)")).cast("double").alias("filled_sum"),
        )
    )


# ---------------------------------------------------------------------------
# q134 — composed curation pipeline (normalize → dedup → filter → pack)
# ---------------------------------------------------------------------------
_CP_WS = "[ \\t\\n\\r]+"
_CP_MIN_WORDS = 10
_CP_MIN_DISTINCT_PCT = 30
_CP_BIN_TOKENS = 1024


@register(
    "q134_curation_pipeline",
    bench=True,
    tags=("curation", "pipeline", "composition"),
    oracle=f"""
        WITH norm AS (
          SELECT doc_id, lang,
                 trim(regexp_replace(lower(text), '{_CP_WS}', ' ', 'g')) AS t
          FROM documents
        ),
        hashed AS (
          SELECT doc_id, lang, t, md5(t) AS h FROM norm
        ),
        deduped AS (
          SELECT doc_id, lang, t FROM (
            SELECT doc_id, lang, t,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM hashed
          ) WHERE rn = 1
        ),
        kept AS (
          SELECT doc_id, lang,
                 len(string_split(t, ' ')) AS n_tokens,
                 len(list_distinct(string_split(t, ' '))) AS n_distinct
          FROM deduped
          WHERE len(string_split(t, ' ')) >= {_CP_MIN_WORDS}
            AND len(list_distinct(string_split(t, ' '))) * 100
                > len(string_split(t, ' ')) * {_CP_MIN_DISTINCT_PCT}
        ),
        packed AS (
          SELECT lang, n_tokens,
                 CAST((SUM(n_tokens) OVER (
                        PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) // {_CP_BIN_TOKENS} AS BIGINT) AS bin_id
          FROM kept
        )
        SELECT lang, bin_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
        FROM packed
        GROUP BY lang, bin_id
    """,
)
def q134_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation DAG in one plan: whitespace/case
    normalization → exact dedup on the normalized digest (first doc_id
    wins) → repetition-aware quality filter → per-language token-budget
    packing → bin manifest. Every stage is an operator this engine ships
    individually (q111, q40/q97, q68, q73); this query pins that they
    COMPOSE — one Catalyst plan, no materialization between stages.

    Stage costs: normalization is map-side; dedup shuffles 16-byte
    digests; the filter is map-side integer arithmetic; packing reuses
    q73's per-lang prefix-sum window (keyed — no single-partition
    window); the manifest is one keyed aggregate. At 100 TB the digest
    shuffle dominates and is the theoretical floor for exact dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        "lang",
        F.trim(F.regexp_replace(F.lower("text"), _CP_WS, " ")).alias("t"),
    )
    # Token stats are computed BEFORE the dedup window (guide §2.3 / §8:
    # shuffle keys and metadata, not payloads): the h-partitioned exchange
    # used to carry the full normalized text so the survivors could be
    # tokenized after rn=1 — but downstream needs only two ints per doc,
    # so the shuffle now moves (doc_id, lang, h, n_tokens, n_distinct).
    # Values for surviving rows are bit-identical; duplicate rows spend a
    # little map-side CPU on stats that get dropped — the corpus dup rate
    # makes that a rounding error against text-sized shuffle bytes.
    hashed = norm.select(
        "doc_id",
        "lang",
        F.md5(F.col("t").cast("binary")).alias("h"),
        F.size(F.split("t", " ")).alias("n_tokens"),
        F.size(F.array_distinct(F.split("t", " "))).alias("n_distinct"),
    )
    deduped = (
        hashed.withColumn(
            "rn", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
        )
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens", "n_distinct")
    )
    kept = deduped.where(
        (F.col("n_tokens") >= _CP_MIN_WORDS)
        & (F.col("n_distinct") * 100 > F.col("n_tokens") * _CP_MIN_DISTINCT_PCT)
    )
    wpack = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = kept.select(
        "lang",
        "n_tokens",
        (
            (F.sum("n_tokens").over(wpack) - F.col("n_tokens"))
            / F.lit(_CP_BIN_TOKENS)
        )
        .cast("bigint")
        .alias("bin_id"),
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
    )


# ---------------------------------------------------------------------------
# q146 — duplicate-text provenance report
# ---------------------------------------------------------------------------
@register(
    "q146_dup_provenance",
    tags=("curation", "dedup", "provenance"),
    oracle="""
        SELECT
          md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS prefix_md5,
          COUNT(*) AS n_copies,
          COUNT(DISTINCT source) AS n_sources,
          array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
          MIN(doc_id) AS keeper_doc_id
        FROM documents
        GROUP BY 1
        HAVING COUNT(*) > 1
    """,
)
def q146_dup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance report for shared boilerplate openings (identical
    8-token prefixes — full-text exact duplicates don't exist in this
    corpus, but shared openings do, and they are the practical takedown/
    attribution unit): which sources ship each duplicated opening and
    which document survives as the keeper.

    One hash aggregation on the 16-byte prefix digest; the source list
    is a DISTINCT set (bounded by |sources|, not copies) emitted as a
    sorted joined string (driver canonicalizer can't hash arrays).
    """
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    return (
        docs.groupBy(F.md5(prefix.cast("binary")).alias("prefix_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("source").alias("n_sources"),
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# q154 — per-source corpus quality rollup (domain-level curation readout)
# ---------------------------------------------------------------------------
SHORT_DOC_CHARS = 200


@register(
    "q154_source_quality_rollup",
    tags=("curation", "quality", "rollup"),
    bench=True,
    oracle=f"""
        SELECT
          source,
          COUNT(*) AS n_docs,
          CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
          CAST(SUM(CASE WHEN n_chars < {SHORT_DOC_CHARS} THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*) AS short_share,
          CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
          CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
            AS dup_share
        FROM documents
        GROUP BY source
    """,
)
def q154_source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain) corpus governance card: volume, language spread,
    length profile, and exact-dup pressure — the table a RefinedWeb-style
    pipeline uses to decide which domains to keep, cap, or drop.

    ONE hash aggregation keyed by source; the two DISTINCT aggregates ride
    the same shuffle (Spark expands to a single multi-distinct plan). Text
    never shuffles — only its md5. Divisions are by the group's own row
    count (≥ 1 by construction), so the query is total under ANSI mode.
    """
    # spread_key=False: ×1.17 at local[4], ×1.13 at local[8] (SCALING.md "Knob sites": headliner bound)
    docs = load_table(spark, sf_dir, "documents", spread_key=False)
    n = F.count(F.lit(1))
    dup = (n - F.count_distinct(F.md5("text"))).cast("bigint")
    return docs.groupBy("source").agg(
        n.alias("n_docs"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_chars").cast("double") / n).alias("avg_chars"),
        (
            F.sum(F.when(F.col("n_chars") < SHORT_DOC_CHARS, 1).otherwise(0))
            .cast("double")
            / n
        ).alias("short_share"),
        dup.alias("n_dup_docs"),
        (dup.cast("double") / n).alias("dup_share"),
    )


# ---------------------------------------------------------------------------
# q213 — point-in-time-correct churn features (leakage-safe cutoff)
# ---------------------------------------------------------------------------
FEAT_LABEL_DAYS = 365  # label window: activity within this many days after cutoff


@register(
    "q213_churn_features",
    tags=("ml-features", "point-in-time", "leakage"),
    oracle=f"""
        WITH cut AS (
          SELECT CAST(MAX(o_orderdate) AS DATE)
                   - INTERVAL {FEAT_LABEL_DAYS} DAY AS cutoff
          FROM orders
        ),
        hist AS (
          SELECT o_custkey,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS monetary_cents,
                 CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                                CAST(cut.cutoff AS DATE)) AS BIGINT)
                   AS recency_days,
                 CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
                   AS priority_diversity
          FROM orders, cut
          WHERE CAST(o_orderdate AS DATE) <= cut.cutoff
          GROUP BY o_custkey, cut.cutoff
        ),
        fut AS (
          SELECT DISTINCT o_custkey
          FROM orders, cut
          WHERE CAST(o_orderdate AS DATE) > cut.cutoff
        )
        SELECT h.o_custkey, h.recency_days, h.frequency, h.monetary_cents,
               h.priority_diversity,
               CAST(CASE WHEN f.o_custkey IS NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS churned
        FROM hist h LEFT JOIN fut f ON h.o_custkey = f.o_custkey
    """,
)
def q213_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct churn training table: RFM-style features
    computed ONLY from orders at-or-before the cutoff date, the churn
    label ONLY from activity strictly after it — the temporal-leakage
    discipline (features must never see the label window) that q76
    enforces for near-dup leakage and this operator enforces for time.

    One fact pass split by the broadcast scalar cutoff: the feature
    aggregation reads the history side, the label is an anti-join-
    shaped flag from the future side, and the join key is the customer
    the features are already grouped by (co-partitioned). At 100 TB a
    feature store materializes exactly this plan per snapshot date;
    every feature here is an exact integer (days, counts, cents)."""
    o = load_table(spark, sf_dir, "orders")
    cut = o.agg(
        F.date_sub(
            F.max(F.col("o_orderdate").cast("date")), FEAT_LABEL_DAYS
        ).alias("cutoff")
    )
    oc = o.crossJoin(F.broadcast(cut))
    hist = (
        oc.where(F.col("o_orderdate").cast("date") <= F.col("cutoff"))
        .groupBy("o_custkey", "cutoff")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).cast("bigint").alias("monetary_cents"),
            F.datediff(
                F.col("cutoff"), F.max(F.col("o_orderdate").cast("date"))
            ).cast("bigint").alias("recency_days"),
            F.countDistinct("o_orderpriority")
            .cast("bigint")
            .alias("priority_diversity"),
        )
        .drop("cutoff")
    )
    fut = (
        oc.where(F.col("o_orderdate").cast("date") > F.col("cutoff"))
        .select(F.col("o_custkey").alias("fk"))
        .distinct()
    )
    return (
        hist.join(fut, hist.o_custkey == fut.fk, "left")
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            "priority_diversity",
            F.when(F.col("fk").isNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("churned"),
        )
    )


# ---------------------------------------------------------------------------
# q273 — token-budget curation: bucketed greedy quality-per-token selection
# ---------------------------------------------------------------------------
# The curation endgame: a training run affords a fixed token budget; keep
# the documents with the best quality-per-token until the budget is
# spent. Exact greedy needs a global sort of all documents; the
# scale-correct form quantizes the quality ratio into integer ranks
# (1000 buckets) and takes whole buckets in rank order — one hash agg to
# bucket totals, one cumulative window over the 1000-row bucket relation.
# The threshold bucket (the first whose cumulative total crosses the
# budget) is kept WHOLE, so tokens_kept may overshoot the 25% budget by
# at most one bucket's mass — the budget_used column prices exactly that
# overshoot. (A pro-rata split of the threshold bucket would need a
# per-doc ordering inside the bucket; whole-bucket keep is the
# deterministic, partition-independent choice.) Quality is q62's lexical-
# diversity ratio in integer permille; everything to the final fraction
# is exact.
_BUDGET_FRACTION_PCT = 25  # keep ~25% of corpus tokens


@register(
    "q273_token_budget_selection",
    tags=("curation", "budget", "selection"),
    oracle=f"""
        WITH docs_q AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(1000 * len(list_distinct(string_split(text, ' ')))
                      // len(string_split(text, ' ')) AS BIGINT) AS quality_pm
          FROM documents
        ),
        buckets AS (
          SELECT quality_pm, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS tokens
          FROM docs_q GROUP BY quality_pm
        ),
        tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM buckets),
        cum AS (
          SELECT b.quality_pm, b.n_docs, b.tokens, t.t,
                 SUM(b.tokens) OVER (ORDER BY b.quality_pm DESC) AS cum_tokens
          FROM buckets b CROSS JOIN tot t
        ),
        kept AS (
          SELECT * FROM cum
          WHERE cum_tokens - tokens < t * {_BUDGET_FRACTION_PCT} // 100
        )
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs_kept,
               CAST(SUM(tokens) AS BIGINT) AS tokens_kept,
               CAST(MIN(quality_pm) AS BIGINT) AS threshold_permille,
               CAST(SUM(tokens) AS DOUBLE) / MIN(t) AS budget_used
        FROM kept
    """,
)
def q273_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-per-token greedy curation under a 25% token budget, via
    1000 integer quality buckets + one cumulative window (see block
    comment — the scale-correct form of global greedy selection)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    docs_q = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(1000 * size(array_distinct(split(text, ' ')))"
            " div size(split(text, ' ')) AS BIGINT)"
        ).alias("quality_pm"),
    )
    buckets = docs_q.groupBy("quality_pm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
    )
    tot = buckets.agg(F.sum("tokens").cast("bigint").alias("t"))
    wq = W.orderBy(F.col("quality_pm").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = buckets.crossJoin(F.broadcast(tot)).select(
        "quality_pm",
        "n_docs",
        "tokens",
        "t",
        F.sum("tokens").over(wq).alias("cum_tokens"),
    )
    kept = cum.where(
        F.col("cum_tokens") - F.col("tokens")
        < F.expr(f"t * {_BUDGET_FRACTION_PCT} div 100")
    )
    return kept.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs_kept"),
        F.sum("tokens").cast("bigint").alias("tokens_kept"),
        F.min("quality_pm").cast("bigint").alias("threshold_permille"),
        (F.sum("tokens").cast("double") / F.min("t")).alias("budget_used"),
    )


# ---------------------------------------------------------------------------
# q294 — redaction impact: what does PII scrubbing cost the corpus?
# ---------------------------------------------------------------------------
# Privacy reviews ask for the redaction rate; DATA reviews ask what the
# scrub did to the training corpus. This audit reruns q67's redaction and
# measures utility deltas per source: characters removed, token-count
# delta, and the share of documents touched — the privacy/utility
# trade-off table. Same injected-PII replay as q67 (both engines
# reproduce the injection), pure map-side regexp + aggregate.
@register(
    "q294_redaction_impact",
    tags=("text", "pii", "governance"),
    oracle=f"""
        WITH aug AS (
          SELECT doc_id, source,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-0' || CAST(100 + doc_id % 900 AS VARCHAR)
                   AS raw
          FROM documents
        ),
        red AS (
          SELECT source, raw,
                 regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                                '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
          FROM aug
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN redacted <> raw THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_touched,
               CAST(SUM(CAST(length(raw) AS BIGINT)
                        - CAST(length(redacted) AS BIGINT)) AS BIGINT)
                 AS chars_removed,
               CAST(SUM(CAST(len(string_split(raw, ' ')) AS BIGINT)
                        - CAST(len(string_split(redacted, ' ')) AS BIGINT))
                    AS BIGINT) AS tokens_removed,
               CAST(SUM(CASE WHEN redacted <> raw THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS touched_share
        FROM red GROUP BY source
    """,
)
def q294_redaction_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source privacy/utility trade-off of q67's PII redaction: docs
    touched, characters and tokens removed (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-0"),
            (100 + F.col("doc_id") % 900).cast("string"),
        ).alias("raw"),
    )
    red = aug.select(
        "source",
        "raw",
        F.regexp_replace(
            F.regexp_replace("raw", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )
    touched = F.when(F.col("redacted") != F.col("raw"), 1).otherwise(0)
    return red.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(touched).cast("bigint").alias("n_touched"),
        F.sum(
            F.length("raw").cast("bigint") - F.length("redacted").cast("bigint")
        ).cast("bigint").alias("chars_removed"),
        F.sum(
            F.size(F.split("raw", " ")).cast("bigint")
            - F.size(F.split("redacted", " ")).cast("bigint")
        ).cast("bigint").alias("tokens_removed"),
        (F.sum(touched).cast("double") / F.count(F.lit(1))).alias(
            "touched_share"
        ),
    )
