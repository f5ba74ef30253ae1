"""Conversion-pipeline queries (SURVEY.md M4) over deterministic corpora
synthesized from the `documents` table.

The driver's parquet tables carry no real binary documents, so these
queries manufacture them: filenames cycle through the format taxonomy by
doc_id, content is the document text (optionally wrapped in HTML). The
format classifier, size validators, and converter then run for real; the
SQL oracles encode the *intended* outcomes, so a classifier regression
breaks the hash match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_api_spark.functions.formats import classify_format_udf
from docling_api_spark.pipeline.convert import convert_documents
from docling_api_spark.plans.registry import register
from docling_api_spark.sources.validation import with_size_validation
from docling_api_spark.tables import load_table

_HTML_PREFIX = "<!doctype html><html><body><p>"
_HTML_SUFFIX = "</p></body></html>"


def _synth_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, path, content) cycling the format taxonomy.

    doc_id % 8: 0 .md · 1 .csv · 2 .html · 3 .adoc · 4 .txt (unsupported) ·
    5 .bin with HTML content (content-sniffed) · 6 extensionless README
    (unsupported) · 7 .pdf with the text in a hex-string content stream
    (r11 — exercises the stdlib T1 pdf backend inside the driver-graded
    pipeline query; built with pure column expressions, no Python).
    """
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    path = (
        F.when(m == 0, F.concat(F.lit("doc"), "doc_id", F.lit(".md")))
        .when(m == 1, F.concat(F.lit("doc"), "doc_id", F.lit(".csv")))
        .when(m == 2, F.concat(F.lit("doc"), "doc_id", F.lit(".html")))
        .when(m == 3, F.concat(F.lit("doc"), "doc_id", F.lit(".adoc")))
        .when(m == 4, F.concat(F.lit("doc"), "doc_id", F.lit(".txt")))
        .when(m == 5, F.concat(F.lit("doc"), "doc_id", F.lit(".bin")))
        .when(m == 7, F.concat(F.lit("doc"), "doc_id", F.lit(".pdf")))
        .otherwise(F.concat(F.lit("README"), "doc_id"))
    )
    # minimal valid-enough PDF: one FlateDecode-free content stream whose
    # hex string carries the document text (hex digits are ASCII, so the
    # whole file is a UTF-8-encodable string until the final encode())
    pdf = F.concat(
        F.lit("%PDF-1.4\n1 0 obj <</Type /Page /Contents 2 0 R>> endobj\n"
              "2 0 obj <</Length 0>>\nstream\nBT <"),
        F.hex(F.encode("text", "utf-8")),
        F.lit("> Tj ET\nendstream endobj\n%%EOF\n"),
    )
    text = (
        F.when(m.isin(2, 5), F.concat(F.lit(_HTML_PREFIX), "text", F.lit(_HTML_SUFFIX)))
        .when(m == 7, pdf)
        .otherwise(F.col("text"))
    )
    return docs.select(
        "doc_id",
        path.alias("path"),
        F.encode(text, "utf-8").alias("content"),
        F.col("n_chars"),
    )


# ---------------------------------------------------------------------------
# q70 — format classification (F4–F7) against the intended taxonomy
# ---------------------------------------------------------------------------
@register(
    "q70_format_classify",
    tags=("pipeline", "classify"),
    oracle="""
        SELECT
          doc_id,
          CASE CAST(doc_id % 8 AS INTEGER)
            WHEN 0 THEN 'md'
            WHEN 1 THEN 'csv'
            WHEN 2 THEN 'html'
            WHEN 3 THEN 'asciidoc'
            WHEN 4 THEN NULL          -- .txt: text/plain is unsupported
            WHEN 5 THEN 'html'        -- extension unknown, content-sniffed
            WHEN 7 THEN 'pdf'         -- %PDF- magic + .pdf extension
            ELSE NULL                 -- extensionless README
          END AS format
        FROM documents
    """,
)
def q70_format_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the real classifier (magic bytes → extension → content sniff)
    over the synthesized corpus; the oracle pins the intended mapping."""
    corpus = _synth_corpus(spark, sf_dir)
    classify = classify_format_udf()
    return corpus.select(
        "doc_id", classify(F.col("path"), F.col("content")).alias("format")
    )


# ---------------------------------------------------------------------------
# q71 — upload validation (F1/F2): per-file limit + sequential batch budget
# ---------------------------------------------------------------------------
_MAX_FILE = 400
_MAX_BATCH = 5000


@register(
    "q71_upload_validation",
    tags=("pipeline", "validation"),
    oracle=f"""
        SELECT
          doc_id,
          source,
          n_chars,
          CASE
            WHEN n_chars > {_MAX_FILE} THEN 'file_too_large'
            WHEN SUM(CASE WHEN n_chars <= {_MAX_FILE} THEN n_chars ELSE 0 END)
                 OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 > {_MAX_BATCH} THEN 'batch_budget_exceeded'
            ELSE NULL
          END AS reject_reason
        FROM documents
    """,
)
def q71_upload_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size validation with each `source` as a batch: per-file cap 400 bytes,
    sequential 5000-byte batch budget debited in doc_id order."""
    # spread_key=False: ×1.17 at local[4], ×1.20 at local[8] (SCALING.md "Knob sites")
    docs = load_table(spark, sf_dir, "documents", spread_key=False)
    validated = with_size_validation(
        docs,
        size_col="n_chars",
        order_col="doc_id",
        batch_col=F.col("source"),
        max_file_bytes=_MAX_FILE,
        max_batch_bytes=_MAX_BATCH,
    )
    return validated.select("doc_id", "source", "n_chars", "reject_reason")


# ---------------------------------------------------------------------------
# q72 — full conversion pipeline (classify → validate → convert)
# ---------------------------------------------------------------------------
# Hash-graded since r11 (rows-only r1-r10): the corpus is synthesized
# from column expressions over `documents`, and every converter output is
# a CLOSED FORM of (doc_id, n_chars) because the generated text is plain
# single-spaced [a-z ]+ (verified: no commas/quotes/newlines/double
# spaces/non-ASCII at sf0.001-0.1, length(text) == n_chars, min 44 — the
# csv parse is one row/one field, the html tag-strip returns the text
# unchanged, the pdf hex content stream round-trips it). Per k = doc_id%8:
#   markdown: k=0 passthrough → n_chars; k=3 asciidoc structural
#   conversion, whose pass-through path is BYTE-identical for documents
#   with no structural lines (pinned incl. trailing-newline/CRLF cases in
#   tests/test_textextract.py) → n_chars; k∈{2,5} tag-strip → n_chars;
#   k=7 pdf hex replay → n_chars; k=1 csv one-cell pipe table
#   "| text |\n|---|" → n_chars+10; k∈{4,6} unsupported → NULL + the
#   converter's error string (full filename, convert.py:72) and ok=false.
# A regression anywhere in classify → validate → convert (a changed
# markdown rendering, a dropped error row, a filename-stem bug) now
# breaks the value hash instead of only the row count.
@register(
    "q72_conversion_pipeline",
    tags=("pipeline", "convert"),
    bench=True,
    oracle="""
        WITH m AS (
          SELECT doc_id, n_chars, CAST(doc_id % 8 AS INTEGER) AS k
          FROM documents
        )
        SELECT
          CASE WHEN k = 6 THEN 'README' || CAST(doc_id AS VARCHAR)
               ELSE 'doc' || CAST(doc_id AS VARCHAR) ||
                 CASE k WHEN 0 THEN '.md' WHEN 1 THEN '.csv'
                        WHEN 2 THEN '.html' WHEN 3 THEN '.adoc'
                        WHEN 4 THEN '.txt' WHEN 5 THEN '.bin'
                        ELSE '.pdf' END
          END AS path,
          CASE k WHEN 0 THEN 'md' WHEN 1 THEN 'csv' WHEN 2 THEN 'html'
                 WHEN 3 THEN 'asciidoc' WHEN 5 THEN 'html'
                 WHEN 7 THEN 'pdf' ELSE NULL END AS format,
          CASE WHEN k = 4 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.txt'
               WHEN k = 6 THEN 'README' || CAST(doc_id AS VARCHAR)
               ELSE 'doc' || CAST(doc_id AS VARCHAR) END AS filename,
          CASE WHEN k IN (4, 6) THEN NULL
               WHEN k = 1 THEN n_chars + 10
               ELSE n_chars END AS markdown_len,
          CAST(0 AS INTEGER) AS n_images,
          CASE WHEN k = 4 THEN 'Unsupported file format: doc'
                               || CAST(doc_id AS VARCHAR) || '.txt'
               WHEN k = 6 THEN 'Unsupported file format: README'
                               || CAST(doc_id AS VARCHAR)
               ELSE NULL END AS error,
          k NOT IN (4, 6) AS ok
        FROM m
    """,
)
def q72_conversion_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end document pipeline on the synthesized corpus: classification,
    size validation (error routing), and the mapInPandas conversion stage
    with the dependency-free converter. The oracle (see block comment)
    replays the intended outcome of every stage as a closed form of
    (doc_id, n_chars); tests/test_pipeline.py pins converter semantics on
    fixtures."""
    corpus = _synth_corpus(spark, sf_dir)
    validated = with_size_validation(
        corpus,
        size_col="n_chars",
        order_col="doc_id",
        max_file_bytes=100_000,
        max_batch_bytes=None,  # unbounded budget → no running-sum stage at all
    )
    accepted = validated.filter(F.col("reject_reason").isNull())
    converted = convert_documents(accepted, converter="lightweight")
    return converted.select(
        "path",
        "format",
        "filename",
        F.length("markdown").alias("markdown_len"),
        F.size("images").alias("n_images"),
        "error",
        F.col("error").isNull().alias("ok"),
    )
