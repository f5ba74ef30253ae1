"""Self-tests for the benchmark's own arithmetic, generators and checks.
None of them starts Spark. Run from the repo root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

from perfbench import checks, corpus, spec, stats, tables
from perfbench.trace import Tracer, covered, read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentiles --------------------------------------------------------------


def test_p90_needs_100_samples_for_10_beyond():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.samples_beyond(8, 0.9) == 0  # p90 of 8 is the maximum
    assert stats.samples_beyond(20, 0.5) == 10


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    random.Random(0).shuffle(xs)
    assert stats.percentile(xs, 0.9) == 90.0
    assert stats.percentile(xs, 0.5) == 50.0
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


# -- open-loop timing ---------------------------------------------------------


def test_latency_counts_from_due_time_not_send_time():
    due = {"a": 0.0, "b": 0.1, "c": 0.2}
    sent = {"a": 0.0, "b": 0.6, "c": 0.61}  # a stall delayed b and c
    done = {"a": 0.5, "b": 1.0}  # c never finished
    assert stats.due_latencies(due, done) == [0.5, pytest.approx(0.9)]
    assert stats.lateness(due, sent) == [0.0, pytest.approx(0.5), pytest.approx(0.41)]


# -- failure accounting -------------------------------------------------------


def test_tally_counts_wrong_outputs_as_failures():
    t = stats.Tally()
    t.ok(3)
    assert t.check(None)
    assert not t.check("doc1: wrong")
    t.fail("doc2: missing")
    assert (t.attempted, t.failed) == (6, 2)
    assert t.failed_ratio == pytest.approx(2 / 6)
    t.wrong(2, "q: value hash differs")
    assert (t.attempted, t.failed) == (6, 4)
    assert t.reasons == ["doc1: wrong", "doc2: missing", "q: value hash differs"]


def test_result_line_shape_and_correct_flag():
    units = {"a_s": "s", "b": "count"}
    good = stats.result_line(stats.Tally(attempted=2), {"a_s": 1.5, "b": 2}, units)
    assert set(good) == {"correct", "attempted", "failed", "metrics"}
    assert good["correct"] is True
    assert good["metrics"]["a_s"] == {"value": 1.5, "unit": "s"}
    bad = stats.result_line(stats.Tally(attempted=2, failed=1), {"a_s": 1, "b": 2}, units)
    assert bad["correct"] is False
    with pytest.raises(KeyError):
        stats.result_line(stats.Tally(attempted=1), {"a_s": 1.0}, units)


# -- BENCHMARK.json -----------------------------------------------------------


def test_benchmark_json_matches_the_metrics_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert max(m["bound"] for m in bench["end_to_end"]) == setup[0]["bound"] <= 0.25


# -- generators and output checks ---------------------------------------------


def test_corpus_is_deterministic_per_seed():
    a = [corpus.small_doc(random.Random(7), i).content for i in range(8)]
    b = [corpus.small_doc(random.Random(7), i).content for i in range(8)]
    c = [corpus.small_doc(random.Random(8), i).content for i in range(8)]
    assert a == b
    assert a != c


def test_lzw_stream_decodes_with_the_pipeline_decoder():
    from docling_api_spark.pipeline.textextract import _lzw_decode

    data = b"".join(w.encode() + b" " for w in corpus._Words(random.Random(1)).words(2000))
    assert _lzw_decode(corpus.lzw_encode(data)) == data


@pytest.mark.parametrize("make", [corpus.small_doc, corpus.large_doc])
def test_every_format_converts_to_its_facts(make):
    from docling_api_spark.pipeline import LightweightConverter

    conv = LightweightConverter()
    rng = random.Random(3)
    for i in range(8):
        doc = make(rng, i)
        r = conv.convert(doc.name, doc.content)
        assert checks.check_conversion(doc, r["markdown"], len(r["images"]), r["error"]) is None


def test_conversion_check_catches_wrong_outputs():
    doc = corpus.make_html(random.Random(1), "t.html", paras=2, tables=1, rows=2)
    from docling_api_spark.pipeline.textextract import html_to_markdown

    md = html_to_markdown(doc.content)
    assert checks.check_conversion(doc, md, 0, None) is None
    assert "tokens missing" in checks.check_conversion(doc, md.replace(doc.tokens[0], ""), 0, None)
    assert "images" in checks.check_conversion(doc, md, 1, None)
    assert "tables" in checks.check_conversion(doc, md + "\n|---|---|", 0, None)
    assert "error" in checks.check_conversion(doc, None, 0, "boom")


def test_fingerprint_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [2, 1], "Y": ["b", "a"]})
    b = pd.DataFrame({"Y": ["a", "b"], "x": [1, 2]})
    assert checks.fingerprint(a) == checks.fingerprint(b)
    c = pd.DataFrame({"x": [1, 3], "Y": ["a", "b"]})
    assert checks.check_query("q", checks.fingerprint(c), checks.fingerprint(a)) is not None
    assert checks.check_query("q", checks.fingerprint(c), None) is None


def test_tables_match_the_registry_schemas_and_seed():
    a = tables.build(5, 0.001)
    b = tables.build(5, 0.001)
    assert set(a) == set(tables.TABLES)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(tables.build(6, 0.001)["lineitem"])
    assert a["lineitem"].num_rows == 6000


# -- tracing ------------------------------------------------------------------


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2)], 1, 1.5) == 0.5
    assert covered([], 0, 1) == 0


def test_tracer_nests_spans_and_off_records_nothing():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    mark = t.mark()
    with t.span("inner"):
        pass
    assert len(t.durations("inner")) == 2
    assert len(t.durations("inner", mark)) == 1
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_event_log_is_reduced_to_the_window(tmp_path):
    def task(stage, launch, finish, run):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0},
            "Task Metrics": {
                "Executor Run Time": run, "Executor CPU Time": run * 10**6,
                "JVM GC Time": 1, "Executor Deserialize Time": 0,
                "Result Serialization Time": 0, "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 500, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Stage IDs": [1]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 500, "Completion Time": 600}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1000, "Completion Time": 1400}},
        task(0, 500, 600, 100),
        task(1, 1000, 1100, 100),
        task(1, 1000, 1400, 300),
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    rec = read_event_log(str(tmp_path), 0.9, 2.0, cores=2)
    m = rec.metrics
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 1, 2)
    assert m["spark.task_run_s"] == pytest.approx(0.4)
    assert m["spark.stage_skew"] == pytest.approx(400 / 250)  # slowest / median task
    assert m["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["spark.busy_ratio"] == pytest.approx(0.4 / (1.1 * 2))
    assert rec.stage_spans == [(1.0, 1.4)]
