"""Run context: pinned environment, Spark session lifetime, and the layer
metrics every workload shares (session, event log)."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import spec
from perfbench.trace import EVENT_LOG_CONF, Tracer, peak_rss_mb, process_tree, read_event_log

# Steadiness settings, pinned whatever the calling environment holds:
# two local cores (below the 4 of the box the benchmark was tuned on, and
# steadier than all of them), a driver heap that fits a 15 GB box with
# room for the Python workers, and every SPARK_GRAFT_* tuning knob unset.
CORES = 2
DRIVER_MEM = "2g"


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    get_spark_s: float = 0.0
    jvm_pid: int = 0
    layer: dict[str, float] = field(default_factory=lambda: dict.fromkeys(spec.PER_LAYER, 0.0))

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def pin_environment(root: str, work: str) -> None:
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # the short-lived launcher JVM spark-submit starts first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    )


def start_spark(ctx: Ctx) -> None:
    from docling_api_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        # keep every file the JVM writes inside the run directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": ctx.path("tmp"),
    }
    if ctx.traced:
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + ctx.path("eventlog")
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = get_spark(app_name="perfbench", extra_conf=conf)
    ctx.get_spark_s = time.perf_counter() - t0
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.jvm_pid = ctx.spark.sparkContext._gateway.proc.pid


def stop_spark(ctx: Ctx) -> None:
    """Stop the session, end the JVM and wait for it and the Python
    workers it forked to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    tree = process_tree(ctx.jvm_pid)
    ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        if gateway.proc.stdin is not None:
            gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    ctx.spark = None
    deadline = time.monotonic() + 15
    alive = [p for p in tree if p != os.getpid() and _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    """True while `pid` runs (a zombie awaiting its reaper counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def session_metrics(ctx: Ctx) -> None:
    """Layer metrics read from the live session; call before stop_spark."""
    ctx.layer["session.get_spark_s"] = ctx.get_spark_s
    ctx.layer["session.peak_rss_mb"] = peak_rss_mb(ctx.jvm_pid)


def event_log_metrics(ctx: Ctx, lo: float, hi: float):
    """Spark counters for jobs submitted in [lo, hi]; call after stop_spark
    (the event log is complete once the context has stopped)."""
    record = read_event_log(ctx.path("eventlog"), lo, hi, CORES)
    ctx.layer.update(record.metrics)
    return record


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (s) of `df`'s QueryExecution, read from its
    tracker after forcing physical planning, plus the wall time of doing
    so. An action on `df` itself reuses that plan; a write builds a new
    QueryExecution and plans again."""
    t0 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {"wall": time.perf_counter() - t0}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
