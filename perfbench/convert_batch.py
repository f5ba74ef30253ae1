"""`convert-batch`: the synchronous batch-convert path, closed loop, one
client. Each request is one directory of large born-digital documents run
through read_documents -> with_size_validation -> split_valid ->
convert_documents and collected; every converted row is checked against
the generator's facts."""

from __future__ import annotations

import os
import random
import time

from perfbench import corpus, harness, stats
from perfbench.checks import check_conversion

DOCS_PER_REQUEST = 8
REQUEST_DIRS = 4


class ConvertBatch:
    def __init__(self, ctx: harness.Ctx):
        self.ctx = ctx
        self.dirs: list[str] = []
        self.docs: dict[str, corpus.Doc] = {}
        self.latencies: list[float] = []
        self.window = (0.0, 0.0)
        self.planning: list[dict[str, float]] = []
        self.mark = 0

    # -- inputs ------------------------------------------------------------
    def generate(self) -> None:
        rng = random.Random(self.ctx.seed)
        base = self.ctx.path("requests")
        for r in range(REQUEST_DIRS):
            d = os.path.join(base, f"r{r}")
            os.makedirs(d)
            for i in range(DOCS_PER_REQUEST):
                doc = corpus.large_doc(rng, r * DOCS_PER_REQUEST + i)
                with open(os.path.join(d, doc.name), "wb") as f:
                    f.write(doc.content)
                self.docs[doc.name] = doc
            self.dirs.append(d)

    # -- one request -------------------------------------------------------
    def request(self, d: str, tally: stats.Tally) -> None:
        from docling_api_spark.pipeline import convert_documents
        from docling_api_spark.sources import read_documents, split_valid, with_size_validation

        tr, spark = self.ctx.tracer, self.ctx.spark
        with tr.span("request", request=d):
            with tr.span("sources.read_documents"):
                docs = read_documents(spark, d)
            with tr.span("sources.with_size_validation"):
                accepted, _rejected = split_valid(with_size_validation(docs))
            with tr.span("pipeline.convert_documents"):
                converted = convert_documents(accepted)
            if self.ctx.traced:
                self.planning.append(harness.catalyst_phases(converted))
            with tr.span("spark.collect"):
                rows = converted.collect()
        got = {r["path"].rsplit("/", 1)[-1]: r for r in rows}
        for name in sorted(os.listdir(d)):
            row = got.get(name)
            if row is None:
                tally.fail(f"{name}: no result row")
                continue
            tally.check(
                check_conversion(
                    self.docs[name], row["markdown"], len(row["images"] or []), row["error"]
                )
            )

    # -- phases ------------------------------------------------------------
    def setup(self, tally: stats.Tally) -> None:
        self.generate()
        # untimed warm-up, one pass over the request directories: the first
        # request starts the Python workers and is several times slower, and
        # the JVM needs a few more before request times settle
        for d in self.dirs:
            self.request(d, tally)

    def measure(self, tally: stats.Tally) -> dict[str, float]:
        self.planning.clear()
        self.mark = self.ctx.tracer.mark()
        lo = time.time()
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < self.ctx.seconds:
            t0 = time.perf_counter()
            self.request(self.dirs[i % len(self.dirs)], tally)
            self.latencies.append(time.perf_counter() - t0)
            i += 1
        wall = time.perf_counter() - start
        self.window = (lo, time.time())
        return {
            "throughput_per_s": i * DOCS_PER_REQUEST / wall,
            "latency_p50_s": stats.percentile(self.latencies, 0.5),
            "latency_p90_s": stats.percentile(self.latencies, 0.9),
        }

    def layers(self) -> None:
        from perfbench.replay import replay

        ctx = self.ctx
        metrics, total = replay(list(self.docs.values()))
        ctx.layer.update(metrics)
        per_request = total / len(self.dirs)
        wall = stats.median(self.latencies)
        ctx.layer["pipeline.replay_s"] = per_request
        ctx.layer["pipeline.spark_overhead_s"] = wall - per_request
        ctx.layer["pipeline.decode_share"] = per_request / wall
        ctx.layer["sources.read_documents_s"] = stats.median(
            ctx.tracer.durations("sources.read_documents", self.mark)
        )
        ctx.layer["sources.with_size_validation_s"] = stats.median(
            ctx.tracer.durations("sources.with_size_validation", self.mark)
        )
        for phase in ("analysis", "optimization", "planning"):
            ctx.layer[f"catalyst.{phase}_s"] = stats.median(
                [p[phase] for p in self.planning]
            )

    def after_stop(self) -> None:
        harness.event_log_metrics(self.ctx, *self.window)

    def notes(self) -> dict:
        return {
            "requests": len(self.latencies),
            "docs_per_request": DOCS_PER_REQUEST,
            "p90_samples_beyond": stats.samples_beyond(len(self.latencies), 0.9),
        }

