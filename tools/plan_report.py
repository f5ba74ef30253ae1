"""Physical-plan observability: one summary line per registered query.

    python /root/repo/tools/plan_report.py [sf_dir] [query_prefix...]

Columns: #Exchange (shuffles), #BroadcastHJ, #SortMergeJ, #BNLJ,
#Window, #SinglePartition. (Codegen spans are only visible in the
POST-execution plan under AQE, so they are not reported here.) Streaming
drains and eager-materializing queries are skipped (planning them runs
them). Use alongside tests/test_global_plan_audit.py — this is the
"look at it" tool, that is the regression gate.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefixes = tuple(sys.argv[2:])

    from docling_api_spark.plans import all_queries
    from docling_api_spark.plans.registry import EXECUTING_QUERIES as SKIP_QUERIES
    from docling_api_spark.session import get_spark

    spark = get_spark(app_name="plan-report", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    hdr = ("query", "exch", "bhj", "smj", "bnlj", "win", "single")
    print(f"{hdr[0]:34} " + " ".join(f"{h:>6}" for h in hdr[1:]))
    for name, q in all_queries().items():
        if prefixes and not name.startswith(prefixes):
            continue
        if name in SKIP_QUERIES:
            continue
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as ex:  # surface, don't die — this is a report
            print(f"{name:34} ERROR {type(ex).__name__}: {str(ex)[:60]}")
            continue
        row = (
            plan.count("Exchange "),
            plan.count("BroadcastHashJoin"),
            plan.count("SortMergeJoin"),
            plan.count("BroadcastNestedLoopJoin"),
            plan.count("Window"),
            plan.count("SinglePartition"),
        )
        print(f"{name:34} " + " ".join(f"{v:>6}" for v in row))

    # Quantile-probe decisions made while building the plans above
    # (r10): the probe memo records (decision, measured distinct ratio)
    # per (query, sf_dir) key — the postmortem view of which branch the
    # data picked and how close to the 0.30 threshold it sat.
    from docling_api_spark.functions.quantiles import (
        AUTO_DISTINCT_RATIO,
        _auto_memo,
    )

    if _auto_memo:
        print(f"\nquantile probe decisions (threshold {AUTO_DISTINCT_RATIO}):")
        for key, st in sorted(_auto_memo.items(), key=lambda kv: str(kv[0])):
            branch = "pre-reduce" if st.pre_reduce else "raw-row"
            rng = (
                f" range [{st.lo:g}, {st.hi:g}]"
                if st.lo is not None and st.hi is not None
                else ""
            )
            print(f"  {str(key):44} ratio {st.ratio:6.4f} -> {branch}{rng}")


if __name__ == "__main__":
    main()
