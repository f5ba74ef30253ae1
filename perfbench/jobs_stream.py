"""`jobs-stream`: the asynchronous job path, open loop. Small mixed-format
documents are due at a fixed rate; each is written to a staging directory
and renamed into the landing directory of start_conversion_stream. A job
is timed from its due time until the parquet sink commits the file that
holds its result (the `_spark_metadata` log entry), which is when
get_job_status can first see it. A poller calls get_job_status at a fixed
rate; every job's result is checked against the generator's facts."""

from __future__ import annotations

import datetime
import json
import math
import os
import random
import threading
import time

from perfbench import corpus, harness, stats
from perfbench.checks import check_conversion

RATE_PER_S = 10.0  # offered job rate
POLL_HZ = 2.0  # status reads per second
WARMUP_JOBS = 16
DRAIN_S = 30.0  # how long the last jobs may take once the generator stops


class JobsStream:
    def __init__(self, ctx: harness.Ctx):
        self.ctx = ctx
        self.docs: list[corpus.Doc] = []
        self.facts: dict[str, corpus.Doc] = {}
        self.query = None
        self.due: dict[str, float] = {}
        self.sent: dict[str, float] = {}
        self.landed_wall: dict[str, float] = {}
        self.done: dict[str, float] = {}
        self.batch_of: dict[str, int] = {}
        self.seen_logs: set[str] = set()
        self.verified: set[str] = set()
        self.status_reads: list[float] = []
        self.progress: list[dict] = []
        self.status_read_jobs = 0
        self.window = (0.0, 0.0)
        self.lock = threading.Lock()

    # -- directories -------------------------------------------------------
    @property
    def results(self) -> str:
        return self.ctx.path("results")

    def submit(self, doc: corpus.Doc) -> None:
        staged = os.path.join(self.ctx.path("staging"), doc.name)
        with open(staged, "wb") as f:
            f.write(doc.content)
        os.rename(staged, os.path.join(self.ctx.path("landing"), doc.name))

    def scan_commits(self) -> None:
        """Record the first time each job's result file is committed."""
        import pyarrow.parquet as pq

        log = os.path.join(self.results, "_spark_metadata")
        if not os.path.isdir(log):
            return
        for name in sorted(os.listdir(log)):
            if name.startswith(".") or name in self.seen_logs:
                continue
            now = time.perf_counter()
            batch = int(name.split(".")[0])
            with open(os.path.join(log, name), encoding="utf-8") as f:
                entries = [json.loads(line) for line in f.read().splitlines()[1:]]
            for e in entries:
                path = e["path"].removeprefix("file://").removeprefix("file:")
                for job in pq.read_table(path, columns=["job_id"])["job_id"].to_pylist():
                    with self.lock:
                        if job not in self.done:
                            self.done[job] = now
                            self.batch_of[job] = batch
            self.seen_logs.add(name)

    def wait_for(self, names: list[str], deadline: float) -> None:
        while time.perf_counter() < deadline:
            self.scan_commits()
            with self.lock:
                if all(n in self.done for n in names):
                    return
            time.sleep(0.01)

    # -- status reads ------------------------------------------------------
    def read_status(self, job: str, tally: stats.Tally | None) -> None:
        from docling_api_spark.streaming import get_job_status

        t0 = time.perf_counter()
        with self.ctx.tracer.span("streaming.get_job_status", request=job):
            st = get_job_status(self.ctx.spark, self.results, job)
        self.status_reads.append(time.perf_counter() - t0)
        if tally is None or st["status"] == "IN_PROGRESS":
            return
        res = st["result"] or {}
        tally.check(
            check_conversion(
                self.facts[job], res.get("markdown"), len(res.get("images") or []), st["error"]
            )
        )
        self.verified.add(job)

    def poller(self, stop: threading.Event, tally: stats.Tally) -> None:
        """Fixed-rate client: reads the oldest committed job it has not yet
        seen finish, else the newest submitted one (still in progress)."""
        period = 1.0 / POLL_HZ
        nxt = time.perf_counter()
        while not stop.is_set():
            with self.lock:
                ready = [j for j in self.due if j in self.done and j not in self.verified]
                recent = list(self.sent)[-1:]
            if ready:
                self.read_status(ready[0], tally)
            elif recent:
                self.read_status(recent[0], None)
            nxt += period
            stop.wait(max(0.0, nxt - time.perf_counter()))

    # -- phases ------------------------------------------------------------
    def setup(self, tally: stats.Tally) -> None:
        from docling_api_spark.streaming import start_conversion_stream

        n_jobs = WARMUP_JOBS + int(RATE_PER_S * self.ctx.seconds)
        rng = random.Random(self.ctx.seed)
        self.docs = [corpus.small_doc(rng, i) for i in range(n_jobs)]
        self.facts = {d.name: d for d in self.docs}
        with self.ctx.tracer.span("streaming.start_conversion_stream"):
            self.query = start_conversion_stream(
                self.ctx.spark, self.ctx.path("landing"), self.results, self.ctx.path("ckpt")
            )
        # untimed warm-up: one burst of every format, then one status read
        warm = self.docs[:WARMUP_JOBS]
        for d in warm:
            self.submit(d)
        self.wait_for([d.name for d in warm], time.perf_counter() + 120)
        self.read_status(warm[0].name, tally)
        self.status_reads.clear()

    def generator(self, jobs: list[corpus.Doc], t0: float) -> None:
        for i, doc in enumerate(jobs):
            due = t0 + i / RATE_PER_S
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            with self.ctx.tracer.span("generator.submit", request=doc.name):
                self.submit(doc)
            with self.lock:
                self.due[doc.name] = due
                self.sent[doc.name] = time.perf_counter()
                self.landed_wall[doc.name] = time.time()

    def measure(self, tally: stats.Tally) -> dict[str, float]:
        jobs = self.docs[WARMUP_JOBS:]
        lo = time.time()
        # The 1 s processing-time trigger fires on whole epoch seconds, so
        # the first job is due a fixed 0.25 s after one: every run sees the
        # same arrival phase against the trigger clock.
        t0 = time.perf_counter() + (math.floor(lo) + 1.25 - lo)
        gen = threading.Thread(target=self.generator, args=(jobs, t0))
        stop = threading.Event()
        poll = threading.Thread(target=self.poller, args=(stop, tally))
        gen.start()
        poll.start()
        while gen.is_alive():
            self.scan_commits()
            time.sleep(0.01)
        gen.join()
        self.wait_for([d.name for d in jobs], time.perf_counter() + DRAIN_S)
        stop.set()
        poll.join()
        self.window = (lo, time.time())
        self.progress = [p for p in self.query.recentProgress if _epoch(p["timestamp"]) >= lo]
        self.verify_rest(jobs, tally)

        lat = stats.due_latencies(self.due, self.done)
        finished = [self.done[j] for j in self.due if j in self.done]
        return {
            "throughput_per_s": len(finished) / (max(finished) - t0) if finished else 0.0,
            "latency_p50_s": stats.percentile(lat, 0.5),
            "latency_p90_s": stats.percentile(lat, 0.9),
        }

    def verify_rest(self, jobs: list[corpus.Doc], tally: stats.Tally) -> None:
        """Check every job the poller did not: one read of the results table."""
        from pyspark.sql import functions as F

        rows = (
            self.ctx.spark.read.parquet(self.results)
            .select("job_id", "markdown", F.size("images").alias("n_images"), "error")
            .collect()
        )
        by_job = {r["job_id"]: r for r in rows}
        for doc in jobs:
            if doc.name in self.verified:
                continue
            row = by_job.get(doc.name)
            if row is None or doc.name not in self.done:
                tally.fail(f"{doc.name}: no result within {DRAIN_S:.0f}s of the last due time")
                continue
            tally.check(check_conversion(doc, row["markdown"], row["n_images"], row["error"]))
        self.status_read_jobs = len(rows)

    def layers(self) -> None:
        from perfbench.replay import replay

        ctx, layer = self.ctx, self.ctx.layer
        prog = [p for p in self.progress if p["numInputRows"] > 0]
        dur = lambda key: [p["durationMs"].get(key, 0) for p in prog]  # noqa: E731
        layer["streaming.batches"] = len(prog)
        layer["streaming.rows_per_batch_p50"] = stats.median([p["numInputRows"] for p in prog])
        for key, name in (
            ("triggerExecution", "trigger"), ("latestOffset", "latest_offset"),
            ("queryPlanning", "query_planning"), ("addBatch", "add_batch"),
            ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"),
        ):
            layer[f"streaming.{name}_ms_p50"] = stats.median(dur(key))
        batch_start = {p["batchId"]: _epoch(p["timestamp"]) for p in self.progress}
        waits = [
            batch_start[self.batch_of[j]] - self.landed_wall[j]
            for j in self.due
            if j in self.batch_of and self.batch_of[j] in batch_start
        ]
        layer["streaming.trigger_wait_s_p50"] = stats.median(waits)
        layer["streaming.generator_late_max_s"] = max(stats.lateness(self.due, self.sent))
        layer["streaming.results_files"] = sum(
            1 for f in os.listdir(self.results) if f.endswith(".parquet")
        )
        layer["streaming.status_read_jobs"] = self.status_read_jobs
        layer["streaming.status_read_p50_s"] = stats.median(self.status_reads)
        layer["streaming.status_reads"] = len(self.status_reads)

        jobs = [self.facts[j] for j in self.due]
        metrics, total = replay(jobs)
        layer.update(metrics)
        per_batch = total / max(1, len(prog))
        trigger_s = layer["streaming.trigger_ms_p50"] / 1000.0
        layer["pipeline.replay_s"] = per_batch
        layer["pipeline.spark_overhead_s"] = trigger_s - per_batch
        layer["pipeline.decode_share"] = per_batch / trigger_s if trigger_s else 0.0

    def after_stop(self) -> None:
        harness.event_log_metrics(self.ctx, *self.window)

    def notes(self) -> dict:
        return {
            "jobs": len(self.due),
            "p90_samples_beyond": stats.samples_beyond(
                len(stats.due_latencies(self.due, self.done)), 0.9
            ),
            "rate_per_s": RATE_PER_S,
            "status_reads": len(self.status_reads),
            "verified_by_status_read": len(self.verified),
        }


def _epoch(iso: str) -> float:
    """Streaming progress timestamps ('2026-01-01T00:00:00.000Z') as epoch s."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
