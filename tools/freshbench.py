"""Fresh-session-per-query bench — the control instrument VERDICT r11
Next #1 ordered for bisecting the r11/r12 uniform carried-set drift.

The shared-JVM bench (bench.py) times every query in ONE session; the
q106 A/B (Q106_AB_r11.json) proved same-session residue can inflate a
mid-run query ~1.3x vs a fresh session. This tool removes session state
from the measurement entirely: every query gets its OWN subprocess —
fresh JVM, fresh Python workers, zero broadcast/checkpoint/codegen-cache
residue — warmed once and timed SPARK_GRAFT_BENCH_RUNS times, with a
per-session codegen probe so box drift is visible per measurement.

    python tools/freshbench.py                 # carried set, write FRESHBENCH_*.json
    python tools/freshbench.py q296_watermark_advisor q157_ohlc_bars
    python tools/freshbench.py --one q01_pricing_summary   # child mode

Interpretation contract (written BEFORE the first r12 run; caveat
appended AFTER it): the fresh-session carried min-sum is a
RESIDUE-FREE measurement for the same code + box — but NOT a floor:
the first r12 run (FRESHBENCH_r12.json) measured the fresh carried
min-sum at 29.63s vs 20.18s shared-JVM on the same day, because at
sub-second query scale the deep-warm shared session's JIT/broadcast
warmup HELPS far more than its residue hurts. Fresh numbers therefore
compare ONLY against other fresh numbers (per-session probes
qualifying both sides); fresh-vs-shared gaps mix warmup and residue
and adjudicate nothing by themselves. Comparing same-HEAD,
same-window shared-JVM and fresh records:

- shared >> fresh (beyond what the probes attribute to box movement
  between the runs): the shared-JVM drift is SESSION RESIDUE — the
  bench procedure's accumulated state, not code — and the mechanism
  goes in SCALING.md with both numbers.
- shared ~= fresh, both at the r10 level: the r11 drift was the box;
  bar restored.
- shared ~= fresh, both elevated vs r10 with flat probes: the
  regression is per-query code cost (or a box mode no probe sees) —
  bisect commits next, not sessions.

Output: one JSON line per query (stderr progress), then a summary line
with fresh_carried_total (sum of per-session mins over bench.CARRIED_R3
members present in the run), fresh_carried_total_median, and probe
stats. Full per-query records land in $SPARK_GRAFT_FRESHBENCH_OUT
(default FRESHBENCH_r12.json in the repo root).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))


def child(name: str) -> None:
    import gc

    from docling_api_spark.plans import all_queries
    from docling_api_spark.session import get_spark

    spark = get_spark(app_name=f"freshbench-{name}")
    import bench

    q = all_queries()[name]
    q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 4))
    probe_ms = bench._spark_probe(spark)
    window_ms = bench._spark_window_probe(spark)
    print(json.dumps({
        "name": name, "samples": samples,
        "probe_ms": probe_ms, "window_ms": window_ms,
    }))


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        child(sys.argv[2])
        return
    import bench

    names = sys.argv[1:] or list(bench.CARRIED_R3)
    results: list[dict] = []
    for i, name in enumerate(names):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True, text=True, cwd="/tmp",
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            rec = {"name": name, "error": out.stderr[-500:]}
        results.append(rec)
        print(
            f"[{i + 1}/{len(names)}] {name}: {rec.get('samples')} "
            f"probe={rec.get('probe_ms')}",
            file=sys.stderr, flush=True,
        )
    ok = [r for r in results if "samples" in r]
    carried = [r for r in ok if r["name"] in bench.CARRIED_R3]
    probe_ms = [r["probe_ms"] for r in ok]
    summary = {
        "metric": "fresh_session_per_query",
        "sf_dir": SF_DIR,
        "n_runs": RUNS,
        "n_queries": len(ok),
        "errors": [r["name"] for r in results if "samples" not in r],
        "queries": {r["name"]: min(r["samples"]) for r in ok},
        "fresh_carried_total": round(
            sum(min(r["samples"]) for r in carried), 4
        ),
        "fresh_carried_total_median": round(
            sum(statistics.median(r["samples"]) for r in carried), 4
        ),
        "carried_n": len(carried),
        "probe_spark_ms_median": round(statistics.median(probe_ms), 2)
        if probe_ms else None,
        "probe_spark_ms_spread": round(max(probe_ms) - min(probe_ms), 2)
        if probe_ms else None,
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_FRESHBENCH_OUT", os.path.join(REPO, "FRESHBENCH_r12.json")
    )
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "runs": results}, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
