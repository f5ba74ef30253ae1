"""Fresh-session A/B of individual queries under an env-knob toggle.

    python tools/ab_queries.py KNOB=Aval KNOB=Bval q42_ngram_jaccard [...]
    python tools/ab_queries.py --one <name>           # child mode

Per query: two child processes (one per knob value), each a FRESH session
running warm sweep + min-of-3 timed noop runs (the bench procedure, per the
r11 lesson that mid-session sweep numbers run ~1.3x fresh). A/B children
alternate so box drift lands on both sides. Prints one line per query:
min_A, min_B, ratio B/A.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "3"))


def child(name: str) -> None:
    from docling_api_spark.plans import all_queries
    from docling_api_spark.session import get_spark

    spark = get_spark(app_name=f"ab-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    q = all_queries()[name]
    q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    print(json.dumps({"name": name, "samples": [round(s, 4) for s in samples]}))


def run_child(name: str, env_kv: str) -> list[float]:
    env = dict(os.environ)
    k, v = env_kv.split("=", 1)
    env[k] = v
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--one", name],
        capture_output=True, text=True, env=env, cwd=REPO,
    )
    for line in out.stdout.splitlines()[::-1]:
        try:
            return json.loads(line)["samples"]
        except Exception:
            continue
    print(out.stdout[-2000:], file=sys.stderr)
    print(out.stderr[-2000:], file=sys.stderr)
    raise RuntimeError(f"child failed: {name} {env_kv}")


def main() -> None:
    if sys.argv[1] == "--one":
        child(sys.argv[2])
        return
    knob_a, knob_b = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    print(f"A: {knob_a}   B: {knob_b}   ({RUNS} runs/side, fresh sessions)")
    tot_a = tot_b = 0.0
    for name in names:
        sa = run_child(name, knob_a)
        sb = run_child(name, knob_b)
        ma, mb = min(sa), min(sb)
        tot_a += ma
        tot_b += mb
        print(f"{name:32} A {ma:6.2f}  B {mb:6.2f}  B/A {mb / ma:5.2f}")
    print(f"{'TOTAL (min-sum)':32} A {tot_a:6.2f}  B {tot_b:6.2f}  "
          f"B/A {tot_b / tot_a:5.2f}")


if __name__ == "__main__":
    main()
