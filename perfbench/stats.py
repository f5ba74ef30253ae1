"""Measurement arithmetic shared by the workloads: percentiles, due-time
latency, generator lateness and failure accounting. Pure Python, so the
self-tests run without Spark."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    fraction `q` of all samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """How many of `n` samples lie strictly above the nearest-rank
    q-percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def due_latencies(due: dict[str, float], done: dict[str, float]) -> list[float]:
    """Open-loop latency: each job is timed from when it was DUE, not from
    when the generator got round to sending it, so a stall that delays
    later sends shows up in their latency."""
    return [done[k] - due[k] for k in due if k in done]


def lateness(due: dict[str, float], sent: dict[str, float]) -> list[float]:
    """How late the generator ran behind its own schedule, per job."""
    return [max(0.0, sent[k] - due[k]) for k in due if k in sent]


@dataclass
class Tally:
    """Attempted and failed operations; a wrong output is a failure."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.reasons) < 10:
            self.reasons.append(reason)

    def wrong(self, n: int, reason: str) -> None:
        """`n` operations already counted turned out to have wrong output."""
        self.failed += n
        if len(self.reasons) < 10:
            self.reasons.append(reason)

    def check(self, reason: str | None) -> bool:
        """Count one operation whose check returned `reason` (None = ok)."""
        if reason is None:
            self.ok()
            return True
        self.fail(reason)
        return False

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def result_line(tally: Tally, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's final record. Every metric named in `units` must be
    present; `correct` holds only when nothing failed."""
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": units[name]} for name in units
        },
    }
