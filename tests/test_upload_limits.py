"""Upload-limit semantics (ports the reference test family
tests/test_upload_limits.py onto the dataflow validators)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_api_spark.sources.binaryfiles import read_documents
from docling_api_spark.sources.validation import (
    BATCH_BUDGET_EXCEEDED,
    FILE_TOO_LARGE,
    UNSUPPORTED_FORMAT,
    _listed_bytes,
    _with_global_running_sum,
    split_valid,
    with_format_validation,
    with_size_validation,
)
from tests.conftest import jobs_started


def _df(spark, rows):
    return spark.createDataFrame(rows, "path string, length long, batch string")


def _reasons(df):
    return {r["path"]: r["reject_reason"] for r in df.collect()}


def _sequential(rows, max_file, budget):
    """The reference's read loop: debit each file in path order."""
    out, running = {}, 0
    for path, size, _ in sorted(rows):
        if size > max_file:
            out[path] = FILE_TOO_LARGE
            continue
        running += size
        out[path] = BATCH_BUDGET_EXCEEDED if running > budget else None
    return out


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _reasons_by_name(df):
    return {p.rsplit("/", 1)[-1]: r for p, r in _reasons(df).items()}


def _write_docs(directory, sizes):
    """One file per (name, size) in `directory`; returns its path."""
    directory.mkdir(exist_ok=True)
    for name, size in sizes:
        (directory / name).write_bytes(b"x" * size)
    return str(directory)


def test_oversized_single_file_rejected(spark):
    df = _df(
        spark,
        [("small.pdf", 10, "b1"), ("big.pdf", 1000, "b1"), ("edge.pdf", 100, "b1")],
    )
    out = with_size_validation(df, max_file_bytes=100, max_batch_bytes=10_000)
    reasons = _reasons(out)
    assert reasons["big.pdf"] == FILE_TOO_LARGE
    assert reasons["small.pdf"] is None
    assert reasons["edge.pdf"] is None  # at-limit accepted (reference :88-102)


def test_batch_budget_debited_in_order(spark):
    # budget 250: a(100) + b(100) fit; c(100) exceeds → c and later rejected
    df = _df(
        spark,
        [("a.pdf", 100, "b1"), ("b.pdf", 100, "b1"), ("c.pdf", 100, "b1"), ("d.pdf", 10, "b1")],
    )
    out = with_size_validation(df, max_file_bytes=1000, max_batch_bytes=250)
    reasons = _reasons(out)
    assert reasons["a.pdf"] is None
    assert reasons["b.pdf"] is None
    assert reasons["c.pdf"] == BATCH_BUDGET_EXCEEDED
    assert reasons["d.pdf"] == BATCH_BUDGET_EXCEEDED


def test_batches_have_independent_budgets(spark):
    df = _df(spark, [("a.pdf", 200, "b1"), ("b.pdf", 200, "b2")])
    out = with_size_validation(
        df, batch_col=F.col("batch"), max_file_bytes=1000, max_batch_bytes=250
    )
    assert set(_reasons(out).values()) == {None}


def test_oversized_file_does_not_consume_batch_budget(spark):
    # big.pdf is rejected for size; the remaining files still fit the budget
    df = _df(
        spark,
        [("a.pdf", 100, "b1"), ("big.pdf", 5000, "b1"), ("z.pdf", 100, "b1")],
    )
    out = with_size_validation(df, max_file_bytes=1000, max_batch_bytes=250)
    reasons = _reasons(out)
    assert reasons["big.pdf"] == FILE_TOO_LARGE
    assert reasons["a.pdf"] is None
    assert reasons["z.pdf"] is None


def test_format_validation_and_error_routing(spark):
    df = spark.createDataFrame(
        [("a.md", 10, "md"), ("b.xyz", 10, None)],
        "path string, length long, format string",
    )
    out = with_format_validation(
        with_size_validation(df, max_file_bytes=100, max_batch_bytes=1000)
    )
    accepted, rejected = split_valid(out)
    assert [r["path"] for r in accepted.collect()] == ["a.md"]
    rej = rejected.collect()
    assert [(r["path"], r["reject_reason"]) for r in rej] == [("b.xyz", UNSUPPORTED_FORMAT)]


def test_unbounded_budget_skips_running_sum(spark):
    df = _df(spark, [("a.pdf", 100, "b1"), ("b.pdf", 5000, "b1")])
    out = with_size_validation(df, max_file_bytes=1000, max_batch_bytes=None)
    reasons = _reasons(out)
    assert reasons["a.pdf"] is None
    assert reasons["b.pdf"] == FILE_TOO_LARGE
    # no running sum → no Window operator in the plan at all
    assert "Window" not in _executed_plan(out)


def test_global_budget_prefix_sum_matches_sequential_debit(spark):
    # 400 rows spread over many input partitions; global budget must debit
    # in path order exactly like the reference's sequential read loop.
    rows = [(f"f{i:04d}.pdf", (i * 37) % 900 + 10, "b1") for i in range(400)]
    df = _df(spark, rows).repartition(16)
    out = with_size_validation(df, max_file_bytes=800, max_batch_bytes=40_000)
    assert _reasons(out) == _sequential(rows, 800, 40_000)


@pytest.mark.parametrize("parts", [2, 3, 4, 8])
def test_global_budget_no_single_partition_window(spark, set_shuffle_partitions, parts):
    # The round-1 defect: partitionBy(lit(1)) folds to an empty partition
    # spec and funnels everything into one task. The window is partitioned
    # by the range bucket instead. 2, 3 and 8 partitions give 1, 2 and 7
    # range minima; the power-of-two counts exercise the probe bound.
    set_shuffle_partitions(parts)
    rows = [(f"f{i:04d}.pdf", 100, "b1") for i in range(200)]
    df = _df(spark, rows).repartition(8)
    out = with_size_validation(df, max_file_bytes=800, max_batch_bytes=5_000)
    assert _reasons(out) == _sequential(rows, 800, 5_000)
    plan = _executed_plan(out)  # after collect: final and initial plans
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


@pytest.mark.parametrize("parts", [2, 3, 4, 5, 8, 9])
def test_global_budget_every_range_gets_its_own_bucket(spark, set_shuffle_partitions, parts):
    # Off-by-one guard: when the number of range minima is a power of two
    # (parts 2, 3, 5, 9) the binary search must still reach the last range.
    set_shuffle_partitions(parts)
    df = _df(spark, [(f"f{i:04d}.pdf", 100, "b1") for i in range(200)])
    bucketed, _ = _with_global_running_sum(df, F.col("length"), "path")
    assert bucketed.select("_sv_idx").distinct().count() == parts


def test_global_budget_bucket_assignment_is_binary_search(spark):
    # round-3 advice: the bucket assignment must NOT embed one literal per
    # range in a per-row O(ranges) array filter. The binary-search rewrite
    # carries the minima in ONE broadcast row and probes log2(ranges) times.
    rows = [(f"f{i:04d}.pdf", 100, "b1") for i in range(500)]
    df = _df(spark, rows).repartition(8)
    out = with_size_validation(df, max_file_bytes=800, max_batch_bytes=5_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_sv_lows" in plan  # minima ride in as a column, not a literal
    # no higher-order filter over the minima anywhere in the plan
    assert "lambdafunction" not in plan.lower()
    # helper columns do not leak into the result schema
    assert not [c for c in out.columns if c.startswith("_sv_")]


def test_global_budget_empty_and_boundary_cases(spark):
    # empty input: the prefix sum must not blow up on zero ranges
    empty = _df(spark, []).repartition(4)
    assert with_size_validation(empty, max_file_bytes=10, max_batch_bytes=100).count() == 0

    # budget hit exactly AT the boundary: at-limit row accepted, next rejected
    rows = [("a.pdf", 100, "b"), ("b.pdf", 150, "b"), ("c.pdf", 1, "b")]
    out = with_size_validation(_df(spark, rows), max_file_bytes=1000, max_batch_bytes=250)
    reasons = _reasons(out)
    assert reasons["a.pdf"] is None
    assert reasons["b.pdf"] is None  # running sum == budget: not over
    assert reasons["c.pdf"] == BATCH_BUDGET_EXCEEDED

    # all files oversized: nothing debits, nothing trips the batch budget
    rows = [(f"f{i}.pdf", 5000, "b") for i in range(20)]
    out = with_size_validation(
        _df(spark, rows).repartition(7), max_file_bytes=1000, max_batch_bytes=100
    )
    assert set(_reasons(out).values()) == {FILE_TOO_LARGE}


def test_fits_budget_equals_sequential_debit(spark):
    # total debit == budget: the fits-budget path accepts every debiting row
    rows = [("a.pdf", 100, "b"), ("big.pdf", 5000, "b"), ("c.pdf", 150, "b")]
    out = with_size_validation(_df(spark, rows), max_file_bytes=1000, max_batch_bytes=250)
    assert _reasons(out) == _sequential(rows, 1000, 250)
    assert _reasons(out) == {"a.pdf": None, "big.pdf": FILE_TOO_LARGE, "c.pdf": None}

    # total == budget + 1: the window path rejects the first overflow row
    rows = [("a.pdf", 100, "b"), ("big.pdf", 5000, "b"), ("c.pdf", 151, "b")]
    out = with_size_validation(_df(spark, rows), max_file_bytes=1000, max_batch_bytes=250)
    assert _reasons(out) == _sequential(rows, 1000, 250)
    assert _reasons(out)["c.pdf"] == BATCH_BUDGET_EXCEEDED
    assert "Window" in _executed_plan(out)


def test_fits_budget_plan_has_no_window_or_exchange(spark):
    rows = [(f"f{i:03d}.pdf", 10, "b") for i in range(50)]
    out = with_size_validation(_df(spark, rows), max_file_bytes=100, max_batch_bytes=500)
    assert set(_reasons(out).values()) == {None}
    plan = _executed_plan(out)
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan


def test_fits_budget_aggregate_does_not_read_content(spark, tmp_path, monkeypatch):
    for i in range(4):
        (tmp_path / f"d{i}.md").write_bytes(b"# doc\n" * (i + 1))
    docs = read_documents(spark, str(tmp_path))
    # record the plan of every eager action run while validating
    plans = []
    first = type(docs).first

    def recording_first(self):
        plans.append(_executed_plan(self))
        return first(self)

    monkeypatch.setattr(type(docs), "first", recording_first)
    out = with_size_validation(docs)  # listing path: no action at all
    assert plans == []
    filtered = with_size_validation(docs.filter("length >= 0"))  # aggregate path
    monkeypatch.undo()

    assert len(plans) == 1, plans
    (plan,) = plans
    assert "ReadSchema: struct<length:bigint>" in plan, plan
    assert "content" not in plan, plan
    for validated in (out, filtered):
        assert set(_reasons(validated).values()) == {None}
        assert "Window" not in _executed_plan(validated)


def test_listed_bytes_equals_sum_of_length(spark, tmp_path):
    d = _write_docs(tmp_path / "docs", [("a.md", 10), ("b.md", 300), ("c.pdf", 77)])
    empty = _write_docs(tmp_path / "empty", [])
    for docs in (
        read_documents(spark, d),
        read_documents(spark, d, glob="*.md"),
        read_documents(spark, empty),
    ):
        total = docs.select(F.sum("length")).first()[0] or 0
        assert _listed_bytes(docs) == total
    assert _listed_bytes(read_documents(spark, d, glob="*.md")) == 310
    assert _listed_bytes(read_documents(spark, d).filter("length > 0")) is None


def test_fits_budget_listing_path_starts_no_job(spark, tmp_path):
    d = _write_docs(tmp_path, [("a.md", 100), ("big.md", 5000), ("c.md", 150)])
    docs = read_documents(spark, d)
    out, jobs = jobs_started(
        spark, with_size_validation, docs, max_file_bytes=10_000, max_batch_bytes=6_000
    )
    assert jobs == 0
    assert set(_reasons(out).values()) == {None}
    # the plan is the scan plus the file_too_large column, nothing more
    plan = _executed_plan(out)
    assert "Window" not in plan and "Exchange" not in plan, plan


def test_non_listing_inputs_take_the_aggregate(spark, tmp_path):
    sizes = [("a.md", 100), ("big.md", 5000), ("c.md", 150)]
    docs = read_documents(spark, _write_docs(tmp_path, sizes))
    rows = [(n, size, "b") for n, size in sizes]
    expected = _sequential(rows, 1000, 250)
    cases = [
        (docs.filter("length >= 0"), "length"),  # filtered scan
        (_df(spark, rows), "length"),  # not a binaryFile scan
        (docs, "LENGTH"),  # same column, but not named `length`
    ]
    for df, size_col in cases:
        out, jobs = jobs_started(
            spark,
            with_size_validation,
            df,
            size_col=size_col,
            max_file_bytes=1000,
            max_batch_bytes=250,
        )
        assert jobs >= 1, size_col
        assert _reasons_by_name(out) == expected


def test_listed_total_over_budget_falls_back_to_the_aggregate(spark, tmp_path):
    # listed 5250 > 250, but the oversized file debits 0: the debits fit
    sizes = [("a.md", 100), ("big.md", 5000), ("c.md", 150)]
    docs = read_documents(spark, _write_docs(tmp_path, sizes))
    out = with_size_validation(docs, max_file_bytes=1000, max_batch_bytes=250)
    assert _reasons_by_name(out) == _sequential([(n, s, "b") for n, s in sizes], 1000, 250)
    assert "Window" not in _executed_plan(out)


def test_window_path_broadcasts_no_python_rdd(spark, tmp_path):
    # the range minima and offsets ride in as a JVM-native literal row, not
    # a pickled Python RDD that every over-budget call would round-trip
    sizes = [(f"d{i}.md", 10 * (i + 1)) for i in range(4)]
    docs = read_documents(spark, _write_docs(tmp_path, sizes))
    out = with_size_validation(docs, max_file_bytes=1000, max_batch_bytes=30)
    assert _reasons_by_name(out) == _sequential([(n, s, "b") for n, s in sizes], 1000, 30)
    plan = _executed_plan(out)
    assert "Window" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("parts", [2, 4])
def test_fits_budget_request_starts_at_most_two_jobs(spark, set_shuffle_partitions, tmp_path, parts):
    # the sync convert request: read -> validate -> split -> convert -> collect
    from docling_api_spark.pipeline import convert_documents
    set_shuffle_partitions(parts)
    for i in range(4):
        (tmp_path / f"d{i}.md").write_bytes(f"# doc {i}\n\nword{i}\n".encode())

    def request():
        docs = read_documents(spark, str(tmp_path))
        accepted, _rejected = split_valid(with_size_validation(docs))
        return convert_documents(accepted).collect()

    rows, jobs = jobs_started(spark, request)
    assert jobs <= 2, jobs
    got = {r["path"].rsplit("/", 1)[-1]: r for r in rows}
    assert sorted(got) == [f"d{i}.md" for i in range(4)]
    for i in range(4):
        assert got[f"d{i}.md"]["error"] is None
        assert f"word{i}" in got[f"d{i}.md"]["markdown"]
