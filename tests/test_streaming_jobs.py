"""Async job mode: landing dir → streaming conversion → results table →
job/batch status views (reference service.py:220-273 semantics), plus
kill/restart checkpoint recovery for both the conversion stream and the
custom stateful sessionizer."""

from __future__ import annotations

import os
import time

import pytest

from docling_api_spark.sources.binaryfiles import read_documents_stream
from docling_api_spark.streaming.jobs import (
    get_batch_status,
    get_job_status,
    start_conversion_stream,
)


def _wait_until(cond, timeout_s: float = 30.0) -> None:
    """Poll `cond` for up to `timeout_s` (the caller asserts it after):
    Spark moves committed inputs on its own cleaner thread."""
    deadline = time.monotonic() + timeout_s
    while not cond() and time.monotonic() < deadline:
        time.sleep(0.05)


def _archived(ckpt) -> set[str]:
    """Names of the files the stream moved under `<ckpt>/landed` (each keeps
    its full source path below that directory)."""
    return {
        name
        for _, _, files in os.walk(ckpt / "landed")
        for name in files
    }


def test_streaming_jobs_lifecycle(spark, tmp_path):
    landing = tmp_path / "landing"
    results = tmp_path / "results"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()

    # status before submit: IN_PROGRESS (PENDING → IN_PROGRESS mapping)
    st = get_job_status(spark, str(results), "notes.md")
    assert st["status"] == "IN_PROGRESS"

    (landing / "notes.md").write_bytes(b"# hello")
    (landing / "bad.xyz").write_bytes(b"unrecognized file content")
    (landing / "batch-7_one.md").write_bytes(b"one")
    (landing / "batch-7_two.xyz").write_bytes(b"unrecognized")

    q = start_conversion_stream(spark, str(landing), str(results), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ok = get_job_status(spark, str(results), "notes.md")
    assert ok["status"] == "SUCCESS"
    assert ok["result"]["markdown"] == "# hello"
    assert ok["result"]["filename"] == "notes"

    # conversion error → task SUCCESS but job FAILURE (service.py:235-238)
    bad = get_job_status(spark, str(results), "bad.xyz")
    assert bad["status"] == "FAILURE"
    assert "Unsupported file format" in bad["error"]

    # unknown id → IN_PROGRESS
    assert get_job_status(spark, str(results), "nope.pdf")["status"] == "IN_PROGRESS"

    # batch: SUCCESS with member failures inside (service.py:244-273)
    batch = get_batch_status(spark, str(results), "batch-7", expected=2)
    assert batch["status"] == "SUCCESS"
    statuses = [m["status"] for m in batch["conversion_results"]]
    assert sorted(statuses) == ["FAILURE", "SUCCESS"]

    # partially-arrived batch is IN_PROGRESS
    assert (
        get_batch_status(spark, str(results), "batch-7", expected=5)["status"]
        == "IN_PROGRESS"
    )


def test_streaming_is_incremental(spark, tmp_path):
    landing = tmp_path / "landing"
    results = tmp_path / "results"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    (landing / "first.md").write_bytes(b"first")

    q = start_conversion_stream(spark, str(landing), str(results), str(ckpt))
    try:
        q.processAllAvailable()
        assert get_job_status(spark, str(results), "first.md")["status"] == "SUCCESS"
        # a file that arrives later is picked up by the same query
        (landing / "second.md").write_bytes(b"second")
        time.sleep(0.1)
        q.processAllAvailable()
    finally:
        q.stop()
    second = get_job_status(spark, str(results), "second.md")
    assert second["status"] == "SUCCESS"
    assert second["result"]["markdown"] == "second"


def test_conversion_stream_checkpoint_recovery(spark, tmp_path):
    """Kill the stream, submit more work, restart from the SAME checkpoint:
    pre-kill jobs are not reprocessed (exactly-once at the file-sink level)
    and post-kill jobs complete."""
    landing = tmp_path / "landing"
    results = tmp_path / "results"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    (landing / "before.md").write_bytes(b"before kill")

    q1 = start_conversion_stream(spark, str(landing), str(results), str(ckpt))
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()  # "kill"

    (landing / "after.md").write_bytes(b"after restart")
    q2 = start_conversion_stream(spark, str(landing), str(results), str(ckpt))
    try:
        q2.processAllAvailable()
        _wait_until(lambda: not (landing / "before.md").exists())
    finally:
        q2.stop()

    # q2's batch over after.md committed before.md's batch, whose input
    # then left the landing directory
    assert not (landing / "before.md").exists()
    assert "before.md" in _archived(ckpt)
    assert get_job_status(spark, str(results), "before.md")["status"] == "SUCCESS"
    after = get_job_status(spark, str(results), "after.md")
    assert after["status"] == "SUCCESS"
    assert after["result"]["markdown"] == "after restart"
    # no duplicate result rows for the pre-kill job
    rows = spark.read.parquet(str(results)).filter("job_id = 'before.md'").count()
    assert rows == 1


def test_committed_inputs_leave_the_landing_directory(spark, tmp_path):
    """The landing directory empties as batches commit, so a trigger lists
    the jobs in flight, not every job ever submitted: after 200 jobs and
    then one more have committed, landing holds at most the last batch's
    file and the 200 sit under `<ckpt>/landed`."""
    landing = tmp_path / "landing"
    results = tmp_path / "results"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    first = {f"job{i:03d}.md" for i in range(200)}
    for name in first:
        (landing / name).write_bytes(b"# landed")

    q = start_conversion_stream(spark, str(landing), str(results), str(ckpt))
    try:
        q.processAllAvailable()
        (landing / "last.md").write_bytes(b"# last")
        q.processAllAvailable()
        _wait_until(lambda: first <= _archived(ckpt))
    finally:
        q.stop()

    assert set(os.listdir(landing)) <= {"last.md"}
    assert first <= _archived(ckpt)
    # every job still has exactly one result
    jobs = spark.read.parquet(str(results)).groupBy("job_id").count().collect()
    assert {r["job_id"] for r in jobs} == first | {"last.md"}
    assert {r["count"] for r in jobs} == {1}


def test_archive_dir_inside_landing_is_refused(spark, tmp_path):
    """Spark's rule for the archive directory: it must not match the
    landing path's pattern, so one inside the landing directory fails the
    query as it starts."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.md").write_bytes(b"a")
    docs = read_documents_stream(spark, str(landing), str(landing / "landed"))
    q = (
        docs.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(Exception, match="archive path"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert (landing / "a.md").exists()


def test_stateful_sessionize_checkpoint_recovery(spark, tmp_path):
    """Open-session state survives a kill/restart: a session spanning the
    restart closes exactly once, with counts accumulated across both runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.streaming.stateful import GAP_US, sessionize_stream

    landing = tmp_path / "events"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    out.mkdir()

    def write_batch(name, rows):
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "t_us": pa.array([r[1] for r in rows], pa.int64()),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
        pq.write_table(tbl, landing / name)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("t_us", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run_once():
        stream = sessionize_stream(spark.readStream.schema(schema).parquet(str(landing)))
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.schema(stream.schema).parquet(str(out))

    # run 1: user 1 opens a session (2 events, still open at kill time)
    write_batch("b1.parquet", [(1, 0, 1.0), (1, 1_000_000, 2.0)])
    res1 = run_once()
    assert res1.count() == 0  # nothing closed yet

    # run 2 (restarted from checkpoint): a third in-gap event extends the
    # RECOVERED open session, then a post-gap event closes it
    write_batch("b2.parquet", [(1, 2_000_000, 4.0), (1, 2_000_000 + GAP_US, 9.0)])
    res2 = run_once()
    closed = res2.collect()
    assert len(closed) == 1
    row = closed[0].asDict()
    assert row["session_start_us"] == 0
    assert row["n_events"] == 3  # 2 pre-kill + 1 post-restart
    assert row["total_value"] == 7.0  # state (1+2) carried across restart, +4
