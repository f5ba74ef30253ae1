"""Dedicated q106_heavy_hitters A/B (VERDICT r10 Next #2): settle the
"fast mode" question for good.

History: r5-r7 recorded ~1.12s; r8 1.53s was adjudicated machine
bimodality with "clean runs reproduce 1.13s"; r9 1.53s kept it weak;
r10's min of TEN same-session runs was 1.30s — the fast mode did not
occur once. Hypotheses: (a) same-session JVM/Arrow state (bench times
q106 mid-run, after ~20 other queries' broadcast/checkpoint residue),
(b) the machine, (c) the claim was never session-independent. This
harness isolates (a) and (c): N FRESH sessions each run q106 alone
(warm sweep + timed runs, bench procedure), alternating with fresh-
session q01_pricing_summary controls so machine drift shows in the
control series, not just the subject.

    python tools/ab_q106.py                # orchestrate, write Q106_AB_r11.json
    python tools/ab_q106.py --one q106_heavy_hitters   # child mode (one JSON line)

Interpretation contract (written BEFORE running): if any fresh-session
min ≤ 1.2s appears in ≥3 of N sessions, the fast mode is real and
session-state-dependent — record that. If no session touches 1.2s, the
fast-mode claim is RETIRED and q106 re-baselines at the observed
fresh-session median.
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
RUNS_PER_SESSION = 3
SESSIONS = int(os.environ.get("SPARK_GRAFT_AB_SESSIONS", "20"))
FAST_BAR = 1.2


def child(name: str) -> None:
    from docling_api_spark.plans import all_queries
    from docling_api_spark.session import get_spark

    spark = get_spark(app_name=f"ab-{name}")
    q = all_queries()[name]
    q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    samples = []
    for _ in range(RUNS_PER_SESSION):
        t0 = time.perf_counter()
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 4))
    # fixed-work machine probe for drift normalization (bench's _spark_probe)
    sys.path.insert(0, REPO)
    import bench

    probe_ms = bench._spark_probe(spark)
    print(json.dumps({"name": name, "samples": samples, "probe_ms": probe_ms}))


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        child(sys.argv[2])
        return
    results: list[dict] = []
    for i in range(SESSIONS):
        for name in ("q106_heavy_hitters", "q01_pricing_summary"):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", name],
                capture_output=True, text=True, cwd="/tmp",
            )
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            try:
                rec = json.loads(line)
            except (json.JSONDecodeError, IndexError):
                rec = {"name": name, "error": out.stderr[-500:]}
            rec["session"] = i
            results.append(rec)
            print(f"[{i + 1}/{SESSIONS}] {name}: "
                  f"{rec.get('samples')} probe={rec.get('probe_ms')}",
                  flush=True)
    subj = [r for r in results if r["name"].startswith("q106") and "samples" in r]
    ctrl = [r for r in results if r["name"].startswith("q01") and "samples" in r]
    subj_mins = sorted(min(r["samples"]) for r in subj)
    ctrl_mins = sorted(min(r["samples"]) for r in ctrl)
    fast_sessions = sum(1 for m in subj_mins if m <= FAST_BAR)
    summary = {
        "sessions": SESSIONS,
        "runs_per_session": RUNS_PER_SESSION,
        "sf_dir": SF_DIR,
        "q106_session_mins": subj_mins,
        "q106_min": subj_mins[0] if subj_mins else None,
        "q106_median_of_mins": round(statistics.median(subj_mins), 4)
        if subj_mins else None,
        "q01_session_mins": ctrl_mins,
        "q01_median_of_mins": round(statistics.median(ctrl_mins), 4)
        if ctrl_mins else None,
        "probe_ms_median": round(statistics.median(
            [r["probe_ms"] for r in results if "probe_ms" in r]), 2),
        "fast_bar": FAST_BAR,
        "fast_sessions": fast_sessions,
        "verdict": (
            "fast mode reproduces in fresh sessions"
            if fast_sessions >= 3
            else "fast mode NOT reproduced - retire the claim, re-baseline"
        ),
    }
    with open(os.path.join(REPO, "Q106_AB_r11.json"), "w") as f:
        json.dump({"summary": summary, "runs": results}, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
