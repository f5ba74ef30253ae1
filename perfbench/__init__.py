"""Benchmark for docling_api_spark: three workloads, end-to-end metrics, and
a traced run with per-layer metrics. Entry point: perfbench/run.py."""
