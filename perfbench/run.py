"""Benchmark entry point.

    python3 perfbench/run.py --workload convert-batch --seed 1 --seconds 12 --trace 0

Runs one workload against the repo it sits in, checks every output, and
prints as its last stdout line one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones (see perfbench/NOTES.md). Lines before it
start with '#' and record the box: nproc, load average, sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _note(key: str, value) -> None:
    print(f"# {key}: {value}", flush=True)


def _loadavg() -> str:
    with open("/proc/loadavg", encoding="ascii") as f:
        return " ".join(f.read().split()[:3])


def main(argv: list[str] | None = None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "docling_api_spark")):
        print(f"error: no docling_api_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import harness, stats
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.pin_environment(ROOT, work)
    _note("nproc", os.cpu_count())
    _note("loadavg_start", _loadavg())
    _note("cores", harness.CORES)

    ctx = harness.Ctx(ROOT, work, args.seed, args.seconds, Tracer(bool(args.trace)))
    workload = _workload(args.workload, ctx)
    tally = stats.Tally()
    try:
        t0 = time.perf_counter()
        harness.start_spark(ctx)
        workload.setup(stats.Tally())
        setup_s = time.perf_counter() - t0
        metrics = workload.measure(tally)
        metrics["setup_s"] = setup_s
        if ctx.traced:
            harness.session_metrics(ctx)
            workload.layers()
    finally:
        harness.stop_spark(ctx)
    if ctx.traced:
        workload.after_stop()
        for name in ("throughput_per_s", "latency_p50_s", "latency_p90_s"):
            ctx.layer[f"trace.{name}"] = metrics[name]
        ctx.layer["trace.spans"] = len(ctx.tracer.spans)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
        ctx.tracer.write(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w", encoding="utf-8") as f:
            json.dump(ctx.layer, f, indent=1, sort_keys=True)
        _note("trace_record", stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    for key, value in workload.notes().items():
        _note(key, value)
    _note("failed_ratio", tally.failed_ratio)
    for reason in tally.reasons:
        _note("failure", reason)
    _note("loadavg_end", _loadavg())
    if ctx.traced:
        line = stats.result_line(tally, ctx.layer, spec.PER_LAYER)
    else:
        line = stats.result_line(tally, metrics, spec.END_TO_END)
    print(json.dumps(line), flush=True)
    return 0


def _workload(name: str, ctx):
    if name == "convert-batch":
        from perfbench.convert_batch import ConvertBatch

        return ConvertBatch(ctx)
    if name == "jobs-stream":
        from perfbench.jobs_stream import JobsStream

        return JobsStream(ctx)
    from perfbench.queries import Queries

    return Queries(ctx)


if __name__ == "__main__":
    sys.exit(main())
