"""Tracing for the per-layer run: in-memory spans around the benchmark's own
calls into each layer, Spark's JSON event log reduced to stage/task
counters, and process memory read from /proc."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

from perfbench.stats import median


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """Spans are kept in memory and written out once, at the end of the
    run. A disabled tracer records nothing and costs one call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()  # per-thread stack of open span ids

    def span(self, name: str, request: str | None = None):
        return self._span(name, request) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, request: str | None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            span = Span(sid, name, time.time(), 0.0, stack[-1] if stack else None, request)
            self.spans.append(span)
        stack.append(sid)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.time()

    def mark(self) -> int:
        """Position to pass as `since` to read only later spans."""
        return len(self.spans)

    def intervals(self, name: str, since: int = 0) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans[since:] if s.name == name]

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [b - a for a, b in self.intervals(name, since)]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class SparkRecord:
    """Jobs, stages and tasks of the jobs submitted inside a time window."""

    job_submit: list[float]  # epoch seconds
    stage_spans: list[tuple[float, float]]
    metrics: dict[str, float]


def read_event_log(log_dir: str, lo: float, hi: float, cores: int) -> SparkRecord:
    """Reduce the event log to the jobs submitted in [lo, hi] (epoch s)."""
    jobs: dict[int, float] = {}
    stage_of_job: dict[int, int] = {}
    stages: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = {}
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if lo <= t <= hi:
                jobs[e["Job ID"]] = t
                for sid in e["Stage IDs"]:
                    stage_of_job[sid] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stages[info["Stage ID"]] = (
                    info["Submission Time"] / 1000.0,
                    info["Completion Time"] / 1000.0,
                )
        elif kind == "SparkListenerTaskEnd" and "Task Metrics" in e:
            tasks.setdefault(e["Stage ID"], []).append(e)
    mine = [sid for sid in stages if sid in stage_of_job]
    run = cpu = gc = delay = sw = sr = spill = 0.0
    n_tasks = 0
    skews: list[float] = []
    for sid in mine:
        durations = []
        for t in tasks.get(sid, []):
            m, info = t["Task Metrics"], t["Task Info"]
            n_tasks += 1
            dur = info["Finish Time"] - info["Launch Time"]
            durations.append(dur)
            run += m["Executor Run Time"] / 1000.0
            cpu += m["Executor CPU Time"] / 1e9
            gc += m["JVM GC Time"] / 1000.0
            delay += max(
                0,
                dur - m["Executor Run Time"] - m["Executor Deserialize Time"]
                - m["Result Serialization Time"] - info.get("Getting Result Time", 0),
            ) / 1000.0
            sw += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rm = m["Shuffle Read Metrics"]
            sr += rm["Remote Bytes Read"] + rm["Local Bytes Read"]
            spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        if len(durations) >= 2 and median(durations) > 0:
            skews.append(max(durations) / median(durations))
    wall = max(hi - lo, 1e-9)
    mb = 1024.0 * 1024.0
    return SparkRecord(
        job_submit=sorted(jobs.values()),
        stage_spans=[stages[s] for s in mine],
        metrics={
            "spark.jobs": len(jobs),
            "spark.stages": len(mine),
            "spark.tasks": n_tasks,
            "spark.task_run_s": run,
            "spark.task_cpu_s": cpu,
            "spark.gc_s": gc,
            "spark.scheduler_delay_s": delay,
            "spark.stage_skew": median(skews) if skews else 1.0,
            "spark.busy_ratio": run / (wall * cores),
            "spark.shuffle_write_mb": sw / mb,
            "spark.shuffle_read_mb": sr / mb,
            "spark.spill_mb": spill / mb,
        },
    )


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        ppid = _status_kb(int(entry), "PPid")
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus the Python
    workers it forked, summed."""
    return sum(_status_kb(pid, "VmHWM") for pid in process_tree(jvm_pid)) / 1024.0
