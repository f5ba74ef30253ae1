"""The benchmark's metric names and units. BENCHMARK.json at the repo root
declares the same names; a self-test keeps the two in step.

Every run prints every end-to-end metric (tracing off) or every per-layer
metric (tracing on). A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

WORKLOADS = ("convert-batch", "jobs-stream", "queries-sf0.01")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

FORMATS = ("pdf", "docx", "pptx", "html", "csv", "md", "asciidoc", "image")

PER_LAYER: dict[str, str] = {}
for _fmt in FORMATS:
    PER_LAYER[f"pipeline.convert_s.{_fmt}"] = "s"
    PER_LAYER[f"pipeline.mb_per_s.{_fmt}"] = "MB/s"
PER_LAYER.update({
    # in-process, single-threaded replay of the workload's documents,
    # split into the conversion steps (seconds per replayed document)
    "pipeline.pdf_to_markdown_s": "s",
    "pipeline.pdf_extract_images_s": "s",
    "pipeline.pdf_undecodable_image_streams_s": "s",
    "pipeline.docx_extract_s": "s",
    "pipeline.pptx_extract_s": "s",
    "pipeline.html_to_markdown_s": "s",
    "pipeline.splice_images_s": "s",
    "pipeline.output_mb": "MB",
    "functions.classify_format_s": "s",
    # replay against the Spark path: per request (convert-batch) or per
    # micro-batch (jobs-stream)
    "pipeline.replay_s": "s",
    "pipeline.spark_overhead_s": "s",
    "pipeline.decode_share": "ratio",
    "sources.read_documents_s": "s",
    "sources.with_size_validation_s": "s",
    # Spark event log, jobs submitted inside the timed window
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.stage_skew": "ratio",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    # Structured Streaming progress and the job generator
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.trigger_wait_s_p50": "s",
    "streaming.generator_late_max_s": "s",
    "streaming.results_files": "count",
    "streaming.status_read_jobs": "count",
    "streaming.status_read_p50_s": "s",
    "streaming.status_reads": "count",
    # query build layer, Catalyst and execution (per pass over the set)
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.driver_gap_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    # session
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    # the traced run's own end-to-end figures; tracing overhead is each
    # minus the same metric of an untraced run on the same seed
    "trace.throughput_per_s": "1/s",
    "trace.latency_p50_s": "s",
    "trace.latency_p90_s": "s",
    "trace.spans": "count",
    "trace.planning_s": "s",
})
