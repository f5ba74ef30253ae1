"""In-process, single-threaded replay of a workload's documents through the
conversion layer, timed call by call. It is the single-threaded baseline
for the Spark path and splits conversion into its steps."""

from __future__ import annotations

import time

from docling_api_spark.functions.formats import classify_format
from docling_api_spark.functions.markdown_images import DocElement, splice_images
from docling_api_spark.pipeline import LightweightConverter
from docling_api_spark.pipeline import textextract as tx

from perfbench.spec import FORMATS

_MB = 1024.0 * 1024.0
_SENTINEL = "\x00<image>\x00"


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def replay(docs) -> tuple[dict[str, float], float]:
    """Convert every `corpus.Doc` once in this process.

    Returns (per-layer metrics, total conversion seconds). Step metrics are
    seconds per replayed document; `convert_s.<fmt>` is seconds per document
    of that format.
    """
    conv = LightweightConverter()
    per_fmt_s = dict.fromkeys(FORMATS, 0.0)
    per_fmt_mb = dict.fromkeys(FORMATS, 0.0)
    per_fmt_n = dict.fromkeys(FORMATS, 0)
    steps = dict.fromkeys(
        (
            "pipeline.pdf_to_markdown_s", "pipeline.pdf_extract_images_s",
            "pipeline.pdf_undecodable_image_streams_s", "pipeline.docx_extract_s",
            "pipeline.pptx_extract_s", "pipeline.html_to_markdown_s",
            "pipeline.splice_images_s", "functions.classify_format_s",
        ),
        0.0,
    )
    out_mb = 0.0
    total = 0.0
    for doc in docs:
        fmt, dt = _timed(classify_format, doc.content, doc.name)
        steps["functions.classify_format_s"] += dt
        result, dt = _timed(conv.convert, doc.name, doc.content)
        total += dt
        per_fmt_s[fmt] += dt
        per_fmt_mb[fmt] += len(doc.content) / _MB
        per_fmt_n[fmt] += 1
        out_mb += (
            len((result["markdown"] or "").encode())
            + sum(len(i["image"] or b"") for i in result["images"])
        ) / _MB
        # the same document again, one entry point at a time
        payloads: list = []
        if fmt == "pdf":
            _, dt = _timed(tx.pdf_to_markdown, doc.content)
            steps["pipeline.pdf_to_markdown_s"] += dt
            payloads, dt = _timed(tx.pdf_extract_images, doc.content)
            steps["pipeline.pdf_extract_images_s"] += dt
            _, dt = _timed(tx.pdf_undecodable_image_streams, doc.content)
            steps["pipeline.pdf_undecodable_image_streams_s"] += dt
            md = "\n\n".join(_SENTINEL for _ in payloads)
        elif fmt in ("docx", "pptx"):
            extract = tx.docx_extract if fmt == "docx" else tx.pptx_extract
            (md, payloads), dt = _timed(extract, doc.content, image_placeholder=_SENTINEL)
            steps[f"pipeline.{fmt}_extract_s"] += dt
        elif fmt == "html":
            _, dt = _timed(tx.html_to_markdown, doc.content)
            steps["pipeline.html_to_markdown_s"] += dt
        if payloads:
            elements = [DocElement(kind="picture", image=p) for p in payloads]
            _, dt = _timed(splice_images, md, elements, placeholder=_SENTINEL)
            steps["pipeline.splice_images_s"] += dt
    n = max(1, len(docs))
    metrics = {k: v / n for k, v in steps.items()}
    metrics["pipeline.output_mb"] = out_mb / n
    for fmt in FORMATS:
        if per_fmt_n[fmt]:
            metrics[f"pipeline.convert_s.{fmt}"] = per_fmt_s[fmt] / per_fmt_n[fmt]
            metrics[f"pipeline.mb_per_s.{fmt}"] = per_fmt_mb[fmt] / max(per_fmt_s[fmt], 1e-9)
    return metrics, total
