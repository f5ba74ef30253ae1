"""`queries-sf0.01`: the relational surface, closed loop, one client. A fixed
set of registry headliners (`bench=True`) runs over seeded sf0.01 tables
in registry order, in whole passes, each query built and then executed by
a noop write. After the window every query is collected once more and
checked against its DuckDB oracle on the same tables (row count plus
canonical value hash) or, for rows-only queries, by running."""

from __future__ import annotations

import json
import time

from perfbench import harness, stats, tables
from perfbench.checks import check_query, fingerprint
from perfbench.trace import covered

SF = 0.01

# Six of the 51 headliners, spread over the range of their warm sf0.01
# pass times at local[2] (about 4 s of the 34 s all 51 take): cheap
# relational and window queries, build-heavy ones (eager checkpoints,
# driver collects, a quantile probe job), and q72, which brings the
# conversion pipeline in.
QUERY_SET = (
    "q73_sequence_packing",
    "q160_weighted_median",
    "q72_conversion_pipeline",
    "q189_bpe_merges",
    "q43_minhash_lsh",
    "q118_equidepth_histogram",
)


class Queries:
    def __init__(self, ctx: harness.Ctx):
        self.ctx = ctx
        self.queries: list = []
        # (name, start, built, planned, executed) in epoch seconds; `planned`
        # differs from `built` only in the traced run
        self.samples: list[tuple[str, float, float, float, float]] = []
        self.passes = 0
        self.planning: list[dict[str, float]] = []
        self.window = (0.0, 0.0)
        self.mark = 0

    @property
    def sf_dir(self) -> str:
        return self.ctx.path("sf")

    def setup(self, tally: stats.Tally) -> None:
        from docling_api_spark.plans import all_queries

        with self.ctx.tracer.span("tables.write"):
            tables.write(self.ctx.seed, SF, self.sf_dir)
        registry = all_queries()
        missing = [n for n in QUERY_SET if n not in registry]
        if missing:
            raise KeyError(f"queries not in the registry: {missing}")
        self.queries = [registry[n] for n in registry if n in QUERY_SET]
        # untimed warm-up pass down the same noop-write path as the timed
        # passes (a collect warms a different one, and the first timed pass
        # then runs slow)
        for q in self.queries:
            q.fn(self.ctx.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def run_one(self, q, tally: stats.Tally) -> None:
        tr, spark = self.ctx.tracer, self.ctx.spark
        t0 = time.time()
        try:
            with tr.span("queries.build", request=q.name):
                df = q.fn(spark, self.sf_dir)
            t1 = tp = time.time()
            if self.ctx.traced:
                self.planning.append(harness.catalyst_phases(df))
                tp = time.time()
            with tr.span("queries.exec", request=q.name):
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
            tally.fail(f"{q.name}: {type(exc).__name__}: {str(exc)[:160]}")
            return
        tally.ok()
        self.samples.append((q.name, t0, t1, tp, time.time()))

    def measure(self, tally: stats.Tally) -> dict[str, float]:
        self.mark = self.ctx.tracer.mark()
        lo = time.time()
        start = time.perf_counter()
        while self.passes == 0 or time.perf_counter() - start < self.ctx.seconds:
            for q in self.queries:
                self.run_one(q, tally)
            self.passes += 1
        wall = time.perf_counter() - start
        self.window = (lo, time.time())
        self.check(tally)
        per_query = self.per_query()
        return {
            "throughput_per_s": len(self.samples) / wall,
            "latency_p50_s": stats.percentile(list(per_query.values()), 0.5),
            "latency_p90_s": stats.percentile(list(per_query.values()), 0.9),
        }

    def per_query(self) -> dict[str, float]:
        """Each query's latency: the median over its timed passes."""
        runs: dict[str, list[float]] = {}
        for name, t0, _, _, t2 in self.samples:
            runs.setdefault(name, []).append(t2 - t0)
        return {name: stats.median(v) for name, v in runs.items()}

    def check(self, tally: stats.Tally) -> None:
        """After the window, collect each query once more and compare it with
        its oracle; a wrong result fails every timed run of that query."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for q in self.queries:
                runs = sum(1 for s in self.samples if s[0] == q.name)
                try:
                    got = fingerprint(q.fn(self.ctx.spark, self.sf_dir).toPandas())
                except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                    tally.wrong(runs, f"{q.name}: check run: {type(exc).__name__}: {str(exc)[:160]}")
                    continue
                want = fingerprint(con.sql(q.oracle).df()) if q.oracle else None
                reason = check_query(q.name, got, want)
                if reason is not None:
                    tally.wrong(runs, reason)
        finally:
            con.close()

    def layers(self) -> None:
        layer, n = self.ctx.layer, max(1, self.passes)
        layer["queries.build_s"] = sum(s[2] - s[1] for s in self.samples) / n
        layer["queries.exec_s"] = sum(s[4] - s[3] for s in self.samples) / n
        for phase in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{phase}_s"] = sum(p[phase] for p in self.planning) / n
        layer["trace.planning_s"] = sum(p["wall"] for p in self.planning) / n

    def after_stop(self) -> None:
        record = harness.event_log_metrics(self.ctx, *self.window)
        n = max(1, self.passes)
        builds = self.ctx.tracer.intervals("queries.build", self.mark)
        execs = self.ctx.tracer.intervals("queries.exec", self.mark)
        self.ctx.layer["queries.build_jobs"] = (
            sum(1 for t in record.job_submit if any(a <= t <= b for a, b in builds)) / n
        )
        self.ctx.layer["queries.driver_gap_s"] = (
            sum((b - a) - covered(record.stage_spans, a, b) for a, b in execs) / n
        )

    def notes(self) -> dict:
        return {
            "queries": len(self.queries),
            "passes": self.passes,
            "samples": len(self.samples),
            "p90_samples_beyond": stats.samples_beyond(len(self.per_query()), 0.9),
            "latency_s_by_query": json.dumps(
                {k: round(v, 3) for k, v in self.per_query().items()}
            ),
        }

