"""bench.py's driver-facing output contract: the LAST printed line must
always be one complete JSON record that fits the grading driver's
2000-char output-tail capture (a line that outgrows the capture loses its
head and the driver records "parsed": null)."""

from __future__ import annotations

import json
import os
import re

from bench import CARRIED_R3, TAIL_CAPTURE_BUDGET, final_line, measure

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LINE_KEYS = {
    "queries", "metric", "value", "unit",
    "carried_total", "carried_total_median", "sf",
}

SCALARS = {
    "metric": "headline_queries_total_time",
    "value": 39.44,
    "unit": "sec",
    "carried_total": 21.47,
    "carried_total_median": 23.75,
    "sf": 0.1,
}


def _medians(n: int) -> dict[str, float]:
    # ~21-char names ≈ the real registry's average
    return {f"q{i:03d}_realistic_name": i * 0.01 for i in range(n)}


def test_fitting_headline_set_keeps_the_queries_dict():
    line = final_line(SCALARS, _medians(45))
    assert len(line) <= TAIL_CAPTURE_BUDGET
    rec = json.loads(line)
    assert set(rec) == LINE_KEYS and len(rec["queries"]) == 45
    assert rec["carried_total_median"] == SCALARS["carried_total_median"]


def test_real_headline_set_fits_budget_with_queries_dict():
    """The real headline set must fit the tail capture WITH the queries
    dict; one name too many silently degrades the record to scalars."""
    from docling_api_spark.plans import all_queries

    reg = all_queries()
    names = sorted({n for n, q in reg.items() if q.bench} | set(CARRIED_R3))
    # pessimistic widths: 4-decimal scalars, 2dp per-query values
    scalars = {**SCALARS, "value": 1234.5678, "carried_total": 999.8765,
               "carried_total_median": 777.6543, "sf": 0.001}
    line = final_line(scalars, {n: 99.99 for n in names})
    assert len(line) <= TAIL_CAPTURE_BUDGET
    assert len(json.loads(line)["queries"]) == len(names)


def test_carried_set_fully_registered():
    """Every CARRIED_R3 name must exist in the registry: bench.measure
    keeps only the carried names it is given, so a renamed or dropped
    query would silently shrink the frozen carried set."""
    from docling_api_spark.plans import all_queries

    reg = all_queries()
    missing = [n for n in CARRIED_R3 if n not in reg or not reg[n].bench]
    assert not missing, f"carried queries missing from the headline set: {missing}"
    assert len(set(CARRIED_R3)) == len(CARRIED_R3) == 27


def test_oversized_headline_set_degrades_to_bounded_scalars():
    line = final_line(SCALARS, _medians(500))
    assert len(line) <= TAIL_CAPTURE_BUDGET  # ALWAYS fits the tail capture
    rec = json.loads(line)
    assert rec == SCALARS  # degraded, but every scalar survives


def test_final_line_is_single_line_json():
    for n in (0, 51, 500):
        line = final_line(SCALARS, _medians(n))
        assert "\n" not in line
        json.loads(line)


def test_final_line_uses_compact_separators():
    for n in (45, 500):  # with the queries dict, and degraded
        line = final_line(SCALARS, _medians(n))
        assert ": " not in line and ", " not in line


def test_bench_procedure_prints_the_driver_line(spark, sf_dir):
    """The real timing procedure on two headliners, one carried and one
    not, feeds a driver line with exactly the contract keys."""
    from docling_api_spark.plans import all_queries

    reg = all_queries()
    names = ["q01_pricing_summary", "q157_ohlc_bars"]
    assert names[0] in CARRIED_R3 and names[1] not in CARRIED_R3
    out, scalars = measure(spark, {n: reg[n] for n in names}, sf_dir, runs=1)
    assert all(len(out["queries_runs"][n]) == 1 for n in names)
    assert set(out["queries_median"]) == set(out["queries_spread"]) == set(names)

    rec = json.loads(final_line(scalars, out["queries"]))
    assert set(rec) == LINE_KEYS
    assert set(rec["queries"]) == set(names)
    assert all(v > 0 for v in rec["queries"].values())
    assert rec["carried_total"] == out["queries"][names[0]]
    assert rec["value"] == round(sum(out["queries"].values()), 4)
    assert rec["sf"] == float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])


def test_tooling_reads_only_its_own_env_vars():
    """bench.py and tools/ read five variables: data location, run count,
    core count, sweep output file and the test master. Gate, probe or
    A/B knobs stay out."""
    paths = [os.path.join(REPO_DIR, "bench.py")]
    tools = os.path.join(REPO_DIR, "tools")
    paths += [os.path.join(tools, f) for f in os.listdir(tools) if f.endswith(".py")]
    names = set()
    for path in paths:
        with open(path, encoding="utf-8") as f:
            names.update(re.findall(r"SPARK_GRAFT_\w*", f.read()))
    assert names == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_BENCH_RUNS",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_FULLBENCH_OUT",
        "SPARK_GRAFT_TEST_MASTER",
    }
