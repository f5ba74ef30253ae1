"""One-off full-registry timed sweep at bench scale (VERDICT r10 Next
#1): wall-time EVERY registered query at sf0.1, not just the 51-query
headline set — the driver dryrun times the other ~256 only at sf0.01,
where everything is sub-3s and a slow-outlier plan (an unpushed filter,
an accidental re-shuffle) can hide.

Procedure: one session (bench's get_spark), registry order, per query a
GC nudge then TWO timed noop-writes (run1 includes codegen/footer
warmup; MIN is the rankable number — one cold run alone would flag
~0.4s of codegen as an outlier). Queries already in the headline set are
marked so the report can rank NON-headline outliers separately.

    python tools/fullbench.py            # writes FULLBENCH_r11.json, prints top

Output: {"queries": {name: min_sec}, "runs": {name: [r1, r2]},
"headline": [...], "slowest_nonheadline": [...]}.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, os.environ.get("SPARK_GRAFT_FULLBENCH_OUT",
                                        "FULLBENCH_r11.json"))


def main() -> None:
    from docling_api_spark.plans import all_queries
    from docling_api_spark.session import get_spark

    spark = get_spark(app_name="docling-api-spark-fullbench")
    registry = all_queries()

    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for i, (name, q) in enumerate(registry.items()):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        try:
            samples = []
            for _ in range(2):
                t0 = time.perf_counter()
                q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 4))
            runs[name] = samples
            print(f"[{i + 1}/{len(registry)}] {name}: {samples}", flush=True)
        except Exception as exc:  # record, keep sweeping
            errors[name] = str(exc)[:300]
            print(f"[{i + 1}/{len(registry)}] {name}: ERROR {exc}", flush=True)

    mins = {n: min(s) for n, s in runs.items()}
    headline = sorted(n for n, q in registry.items() if q.bench)
    non_headline = {n: t for n, t in mins.items() if n not in set(headline)}
    slowest = sorted(non_headline.items(), key=lambda kv: -kv[1])[:10]
    rec = {
        "sf_dir": SF_DIR,
        "n_queries": len(registry),
        "n_timed": len(runs),
        "errors": errors,
        "headline": headline,
        "queries": {n: mins[n] for n in sorted(mins)},
        "runs": {n: runs[n] for n in sorted(runs)},
        "slowest_nonheadline": [
            {"name": n, "sec": t} for n, t in slowest
        ],
    }
    with open(OUT, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({
        "total_min_sum": round(sum(mins.values()), 2),
        "slowest_nonheadline": rec["slowest_nonheadline"],
        "errors": list(errors),
    }))


if __name__ == "__main__":
    main()
