"""Conversion pipeline end-to-end: binaryFile source → classify → validate →
convert → nested result schema (+ option isolation, reference test family
tests/test_pipeline_options_isolation.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from docling_api_spark.pipeline.convert import (
    LightweightConverter,
    convert_documents,
)
from docling_api_spark.sources.binaryfiles import read_documents
from docling_api_spark.sources.validation import with_size_validation, split_valid

PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16


@pytest.fixture()
def landing(tmp_path):
    (tmp_path / "notes.md").write_bytes(b"# Title\n\nhello *world*\n")
    (tmp_path / "data.csv").write_bytes("name,value\nCafé,1\n".encode("latin1"))
    (tmp_path / "page.html").write_bytes(
        b"<!doctype html><html><body><h1>Hi</h1><p>text</p></body></html>"
    )
    (tmp_path / "photo.png").write_bytes(PNG)
    (tmp_path / "report.pdf").write_bytes(b"%PDF-1.7 fake")
    (tmp_path / "blob.xyz").write_bytes(b"unrecognized file content")
    return str(tmp_path)


def test_end_to_end_conversion(spark, landing):
    docs = read_documents(spark, landing)
    assert docs.count() == 6
    validated = with_size_validation(docs, max_file_bytes=10_000, max_batch_bytes=100_000)
    accepted, rejected = split_valid(validated)
    assert rejected.count() == 0
    out = {r["path"].rsplit("/", 1)[-1]: r for r in convert_documents(accepted).collect()}

    md = out["notes.md"]
    assert md["format"] == "md" and md["error"] is None
    assert md["markdown"].startswith("# Title") and md["filename"] == "notes"

    csv_r = out["data.csv"]
    assert csv_r["format"] == "csv" and csv_r["error"] is None
    assert "Café" in csv_r["markdown"] and csv_r["markdown"].startswith("| name | value |")

    html = out["page.html"]
    assert html["format"] == "html" and "Hi" in html["markdown"]
    assert "<h1>" not in html["markdown"]

    img = out["photo.png"]
    assert img["format"] == "image" and img["error"] is None
    assert img["markdown"] == "picture-1.png"
    assert [(i["type"], i["filename"]) for i in img["images"]] == [("picture", "picture-1.png")]
    assert bytes(img["images"][0]["image"]) == PNG

    pdf = out["report.pdf"]
    assert pdf["format"] == "pdf"
    assert pdf["error"] is not None and "pdf" in pdf["error"]  # no backend here

    blob = out["blob.xyz"]
    assert blob["format"] is None
    assert blob["error"] == "Unsupported file format: blob.xyz"


def test_error_rows_do_not_fail_the_job(spark, landing):
    # one bad row among good ones: job completes, error is a column (O4)
    docs = read_documents(spark, landing)
    out = convert_documents(docs)
    assert out.count() == 6
    assert out.filter(F.col("error").isNotNull()).count() == 2  # pdf + xyz


def test_metadata_only_plan_skips_content(spark, landing):
    # size validation reads only metadata columns; `content` must be pruned
    docs = read_documents(spark, landing)
    plan = (
        with_size_validation(docs)
        .select("path", "length", "reject_reason")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "content" not in plan


def test_option_isolation_across_calls():
    # two conversions with different options in flight must not interfere
    # (reference regression: tests/test_pipeline_options_isolation.py)
    conv = LightweightConverter()
    a = conv.convert("a.md", b"alpha", extract_tables=True, image_resolution_scale=1)
    b = conv.convert("b.md", b"beta", extract_tables=False, image_resolution_scale=4)
    again = conv.convert("a.md", b"alpha", extract_tables=True, image_resolution_scale=1)
    assert a == again
    assert b["markdown"] == "beta"
    assert a["markdown"] == "alpha"


def test_q72_oracle_corpus_assumptions(oracle_con, sf_dir):
    # The r11 q72 oracle is a closed form of (doc_id, n_chars) that is
    # valid ONLY while the documents text is plain single-spaced [a-z ]
    # words: then the csv parse is one row/one field, the html tag-strip
    # returns the text unchanged, and the pdf hex stream round-trips it.
    # Pin those properties so regenerated testdata that violates them
    # fails HERE (naming the oracle to fix) instead of as a bare driver
    # hash mismatch.
    bad, = oracle_con.sql(
        f"""
        SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE text IS NULL
           OR NOT regexp_full_match(text, '[a-z]+( [a-z]+)*')
           OR length(text) != n_chars
           OR n_chars >= 100000  -- q72 validates size but its oracle
                                 -- emits every row unconditionally
        """
    ).fetchall()[0]
    assert bad == 0, (
        "documents.text violates the q72 oracle's closed-form assumptions "
        "(plain single-spaced [a-z ] words, length == n_chars) — update "
        "the q72_conversion_pipeline oracle in operators/pipeline_queries.py"
    )


def _docs_in_one_partition(spark, k):
    formats = [
        ("md", lambda i: f"# Doc {i}\n\nbody {i}\n".encode()),
        ("csv", lambda i: f"name,value\nrow{i},{i}\n".encode()),
        ("html", lambda i: f"<html><body><h1>H{i}</h1><p>p{i}</p></body></html>".encode()),
        ("xyz", lambda i: b"unrecognized file content"),
    ]
    rows = []
    for i in range(k):
        ext, make = formats[i % len(formats)]
        rows.append((f"/in/doc{i}.{ext}", make(i)))
    # an RDD of one slice: unlike coalesce(1), the optimizer cannot fold it
    # into the conversion's own repartition
    one_slice = spark.sparkContext.parallelize(rows, 1)
    return rows, spark.createDataFrame(one_slice, "path string, content binary")


@pytest.mark.parametrize("k", [1, 3, 11])
def test_batch_convert_spreads_documents(spark, set_shuffle_partitions, k):
    from docling_api_spark.functions.formats import classify_format

    parts = 4
    set_shuffle_partitions(parts)
    rows, docs = _docs_in_one_partition(spark, k)
    assert docs.rdd.getNumPartitions() == 1
    out = convert_documents(docs)

    sizes = out.rdd.glom().map(len).collect()
    assert len(sizes) == parts
    assert sum(1 for n in sizes if n) == min(k, parts)

    conv = LightweightConverter()
    expected = []
    for path, content in rows:
        name = path.rsplit("/", 1)[-1]
        r = conv.convert(name, content)
        images = [(i["type"], i["filename"], i["image"]) for i in r["images"]]
        expected.append(
            (path, classify_format(content, name), r["filename"], r["markdown"], images, r["error"])
        )
    got = [
        (
            r["path"],
            r["format"],
            r["filename"],
            r["markdown"],
            [(i["type"], i["filename"], bytes(i["image"])) for i in r["images"]],
            r["error"],
        )
        for r in out.collect()
    ]
    assert sorted(got, key=repr) == sorted(expected, key=repr)


def test_conversion_stream_is_not_spread(spark, tmp_path):
    from docling_api_spark.streaming.jobs import start_conversion_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        (landing / f"n{i}.md").write_bytes(b"# streamed")
    q = start_conversion_stream(
        spark, str(landing), str(tmp_path / "results"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(True)
    finally:
        q.stop()
    assert "MapInPandas" in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan
