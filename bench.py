"""Benchmark harness: runs the headline queries (the registry's `bench`
flag) on the tables in $SPARK_GRAFT_SF_DIR (default: the sf0.1 test
tables) on local[$SPARK_GRAFT_CPUS] and prints two JSON lines:

1. a detailed record: the scalars below plus per-query min, median,
   spread (max - min) and the raw runs in run order;
2. after a blank line, the compact driver line
   {"queries": {name: best-of-N sec, 2dp}, "metric", "value", "unit",
   "carried_total", "carried_total_median", "sf"}.

Each query is warmed once (JVM JIT, parquet footers, Python worker pool),
then timed SPARK_GRAFT_BENCH_RUNS times (default 5) through a noop-format
write so the full plan executes. "queries" carries the per-query minimum:
interference on a shared box arrives in bursts that inflate a median while
the best run usually dodges them.

    python bench.py
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 SPARK_GRAFT_BENCH_RUNS=1 python bench.py
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from docling_api_spark.plans import all_queries  # noqa: E402
from docling_api_spark.session import get_spark  # noqa: E402

# Frozen round-3 headline set, timed FIRST in this fixed order with its own
# warm sweep, so `carried_total` is measured under the same JVM conditions
# whatever headliners were added since (a shared JVM drifts as it
# accumulates broadcast/checkpoint state). Do NOT edit this tuple: its sum
# is the comparable number across records. New headliners run in phase 2.
CARRIED_R3: tuple[str, ...] = (
    "q01_pricing_summary",
    "q03_broadcast_dim_join",
    "q04_multiway_join_revenue",
    "q104_snapshot_diff",
    "q106_heavy_hitters",
    "q108_bloom_semi_join",
    "q112_inverted_index",
    "q118_equidepth_histogram",
    "q134_curation_pipeline",
    "q14_window_topk_per_group",
    "q28_shipping_priority",
    "q29_large_orders",
    "q30_tumbling_window",
    "q32_session_window",
    "q33_asof_join",
    "q35_bucketed_range_join",
    "q42_ngram_jaccard",
    "q43_minhash_lsh",
    "q43_minhash_lsh_xxh",
    "q49_rolling_zscore",
    "q50_cosine_topk",
    "q57_incremental_dedup",
    "q58_incremental_rollup",
    "q62_quality_score",
    "q63_tfidf_top_terms",
    "q72_conversion_pipeline",
    "q73_sequence_packing",
)

# The driver records only the LAST 2000 characters of output and parses a
# JSON line out of them; a line that outgrows the capture loses its head
# and parses as nothing. The tail must hold the compact line, the blank
# separator line and the trailing newline (len + 3 <= 2000); 1950 keeps a
# margin for driver-side quirks.
TAIL_CAPTURE_BUDGET = 1950


def _bench_phase(spark, queries: dict, sf_dir: str, runs: int, out: dict) -> None:
    """Warm every query in `queries` once, then time each `runs` times,
    with a GC nudge between queries so checkpoint/broadcast blocks from
    the previous query don't tax the next one."""
    for q in queries.values():
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name, q in queries.items():
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        samples: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        out["queries_runs"][name] = [round(s, 4) for s in samples]
        samples.sort()
        out["queries"][name] = round(samples[0], 4)
        out["queries_median"][name] = round(statistics.median(samples), 4)
        out["queries_spread"][name] = round(samples[-1] - samples[0], 4)


def measure(spark, queries: dict, sf_dir: str, runs: int) -> tuple[dict, dict]:
    """Time `queries` (name -> registered Query): the CARRIED_R3 members
    first as phase 1, the rest in name order as phase 2. Returns the
    per-query record (min, median, spread, raw runs) and the compact
    line's scalars."""
    carried = {n: queries[n] for n in CARRIED_R3 if n in queries}
    rest = {n: q for n, q in sorted(queries.items()) if n not in carried}
    out: dict = {
        "queries": {},
        "queries_median": {},
        "queries_spread": {},
        "queries_runs": {},
    }
    _bench_phase(spark, carried, sf_dir, runs, out)
    _bench_phase(spark, rest, sf_dir, runs, out)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    scalars = {
        "metric": "headline_queries_total_time",
        "value": round(sum(out["queries"].values()), 4),
        "unit": "sec",
        "carried_total": round(sum(out["queries"][n] for n in carried), 4),
        "carried_total_median": round(
            sum(out["queries_median"][n] for n in carried), 4
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    return out, scalars


def final_line(scalars: dict, per_query: dict) -> str:
    """The guaranteed-parseable last output line: per-query stats (2dp)
    plus scalars when that fits TAIL_CAPTURE_BUDGET, else the scalars
    alone. Compact separators leave the most room for query names."""
    compact = json.dumps(
        {"queries": {n: round(v, 2) for n, v in per_query.items()}, **scalars},
        separators=(",", ":"),
    )
    if len(compact) <= TAIL_CAPTURE_BUDGET:
        return compact
    return json.dumps(scalars, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    spark = get_spark(app_name="docling-api-spark-bench")
    headline = {n: q for n, q in all_queries().items() if q.bench}
    out, scalars = measure(spark, headline, sf_dir, runs)
    # detailed record first: only the compact line has to survive the
    # driver's tail capture, and the blank line keeps any truncated
    # fragment of the detailed record off it
    print(json.dumps({**scalars, "n_runs": runs, **out}))
    print()
    print(final_line(scalars, out["queries"]))
    spark.stop()


if __name__ == "__main__":
    main()
