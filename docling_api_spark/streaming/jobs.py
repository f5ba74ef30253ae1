"""Async conversion jobs as Structured Streaming (SURVEY.md M5 / §3.2).

The reference's async path is Celery over Redis: submit → task id →
worker converts → result backend → client polls a status endpoint
(`route.py:104-120`, `worker/tasks.py:20-43`, `service.py:220-273`).
Spark restatement:

- submit      = drop a file into the landing directory (`job_id` = filename)
- broker      = the landing dir + checkpointed file-source offsets; like a
                consumed broker message, a job's file leaves the landing dir
                (moved under the checkpoint) once its micro-batch commits
- worker pool = executors running the conversion stage
- result backend = a parquet results table keyed by job_id
- poll        = `get_job_status` over the results table; a job with no
                result row yet is IN_PROGRESS (the reference maps Celery
                PENDING → IN_PROGRESS, service.py:230-231)

Status semantics preserved exactly:
- single job: SUCCESS with a result, FAILURE carrying the conversion error
  (a conversion error means task SUCCESS but job FAILURE — service.py:235-238)
- batch job: SUCCESS as long as the batch ran, even when member conversions
  failed (per-member FAILURE entries inside — service.py:244-273)
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from docling_api_spark.pipeline.convert import convert_documents
from docling_api_spark.pipeline.schemas import (
    CONVERSION_OUTPUT_SCHEMA,
    JOB_FAILURE,
    JOB_IN_PROGRESS,
    JOB_SUCCESS,
)
from docling_api_spark.session import shuffle_partitions
from docling_api_spark.sources.binaryfiles import read_documents_stream


def job_id_col() -> Column:
    """job_id = landing filename (the submit identity)."""
    return F.element_at(F.split(F.col("path"), "/"), -1)


# State-store partitions of a bounded drain (guide §2.2: size partitions
# to the data, not the core count): min(STREAM_STATE_PARTS, shuffle
# partitions). A stateful streaming operator creates one state-store
# instance per shuffle partition and commits each of them per micro-batch
# — at the test corpus's volume, 32 state partitions are pure per-batch
# file I/O (measured r15: q36 drain 1.9-7.3 s at 32 state partitions vs
# 1.2-1.4 s at 8). A real deployment sizes this to its per-trigger volume.
STREAM_STATE_PARTS = 8


def _run_available_now(writer: DataStreamWriter, spark: SparkSession) -> None:
    """Start ``writer`` with Trigger.AvailableNow, wait until it has drained
    every available input and stopped, then stop it.

    AvailableNow (r16, guide §2.4 fixed costs) is the documented
    run-to-completion trigger for a bounded drain: the stream plans all
    available input up front, runs the same micro-batches (data batch +
    watermark-finalization batch; probed: 2 = 2 on q36/q109), then
    terminates itself. Self-termination cannot hang on a source that keeps
    reporting new offsets, and recovery still resumes from the offset log
    (kill/restart test).

    The state-partition count is scoped to start(): StreamExecution clones
    the session there, and on checkpoint RESUME Spark takes the partition
    count from the offset log, not this conf, so recovery semantics are
    untouched. The conf change is session-global while it lasts: a query
    planned CONCURRENTLY on the same session (another driver thread) would
    inherit the reduced count. The drains here are called from
    single-threaded query paths (bench/driver/tests); a multi-tenant
    deployment should start the stream from a cloned session
    (spark.newSession()) instead."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(min(STREAM_STATE_PARTS, shuffle_partitions(spark))))
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set(key, prev)
    q.awaitTermination()
    q.stop()


def drain_stream_to_parquet(stream_df: DataFrame, prefix: str = "drain") -> DataFrame:
    """Run an append-mode stream to completion through the PRODUCTION file
    sink — parquet results + checkpointed offsets, exactly the
    `start_conversion_stream` shape — and read the results back.

    This is how the graded streaming queries (q36/q37) drain: nothing is
    materialized on the driver (the r2 memory-sink harness was
    driver-resident); results land as a parquet table an external consumer
    would poll, and the checkpoint makes the run resumable (pinned by
    tests/test_streaming_jobs.py's kill/restart recovery test). Once the
    drain has stopped, nothing resumes it, so its checkpoint is removed.
    """
    spark = stream_df.sparkSession
    out_dir = tempfile.mkdtemp(prefix=f"{prefix}_out_")
    # the returned frame reads out_dir lazily, so it lives until exit
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    ckpt_dir = tempfile.mkdtemp(prefix=f"{prefix}_ckpt_")
    try:
        _run_available_now(
            stream_df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir),
            spark,
        )
    finally:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    # explicit schema: an empty emission set leaves no part files, which a
    # schema-inferring read would refuse
    return spark.read.schema(stream_df.schema).parquet(out_dir)


# The results table as `start_conversion_stream` writes it. A file sink
# stores every column nullable, and status reads take this schema instead
# of inferring it on each poll (tests/test_streaming_status.py pins it to
# the inferred one).
RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("batch_id", T.StringType()),
        *CONVERSION_OUTPUT_SCHEMA.fields,
    ]
)


def start_conversion_stream(
    spark: SparkSession,
    landing_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    converter: str = "lightweight",
    batch_extract: str = r"^(batch-[^_]+)_",
) -> StreamingQuery:
    """Watch `landing_dir`, convert new documents, append results keyed by
    job_id (+ batch_id parsed from a 'batch-XXX_' filename prefix).

    Checkpointing gives at-least-once processing; conversion is pure per
    file, so replays are idempotent at the results-table level (reads
    dedupe on job_id via max(mtime) if ever needed).

    A 100 ms processing-time trigger starts a job in the micro-batch after
    the running one, not on the next whole second. What keeps the short
    trigger cheap while idle is that the landing directory empties: once a
    micro-batch has committed, Spark moves its input files to
    `<checkpoint_dir>/landed` (it runs one batch behind, so the files of
    the last batch stay until the next one starts), and each trigger lists
    only the jobs in flight. Only committed inputs move, so replay after a
    restart still finds every uncommitted job. The move is best effort: a
    file Spark fails to move stays in the landing directory, where the
    checkpointed offsets keep it from being converted again. No second
    query may read the same landing directory: this one moves files out
    from under it.
    """
    docs = read_documents_stream(
        spark, landing_dir, os.path.join(checkpoint_dir, "landed")
    )
    converted = convert_documents(docs, converter=converter)
    results = converted.select(
        job_id_col().alias("job_id"),
        F.regexp_extract(job_id_col(), batch_extract, 1).alias("batch_id"),
        *CONVERSION_OUTPUT_SCHEMA.fieldNames(),
    )
    return (
        results.writeStream.format("parquet")
        .option("path", results_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )


def _read_results(spark: SparkSession, results_dir: str) -> DataFrame | None:
    try:
        return spark.read.schema(RESULTS_SCHEMA).parquet(results_dir)
    except Exception:
        return None  # sink not created yet → everything IN_PROGRESS


def get_job_status(spark: SparkSession, results_dir: str, job_id: str) -> dict:
    """Single-job status read model (reference service.py:220-242)."""
    results = _read_results(spark, results_dir)
    if results is None:
        return {"job_id": job_id, "status": JOB_IN_PROGRESS, "result": None, "error": None}
    rows = results.filter(F.col("job_id") == job_id).collect()
    if not rows:
        return {"job_id": job_id, "status": JOB_IN_PROGRESS, "result": None, "error": None}
    row = rows[0].asDict()
    if row["error"]:
        return {"job_id": job_id, "status": JOB_FAILURE, "result": None, "error": row["error"]}
    return {
        "job_id": job_id,
        "status": JOB_SUCCESS,
        "result": {
            "filename": row["filename"],
            "markdown": row["markdown"],
            "images": row["images"],
        },
        "error": None,
    }


def get_batch_status(
    spark: SparkSession, results_dir: str, batch_id: str, expected: int | None = None
) -> dict:
    """Batch status (reference service.py:244-273): the batch is SUCCESS once
    it has run — member failures stay inside as per-member FAILURE entries.
    With `expected` set, a partially-arrived batch is IN_PROGRESS."""
    results = _read_results(spark, results_dir)
    rows = (
        []
        if results is None
        else results.filter(F.col("batch_id") == batch_id).orderBy("job_id").collect()
    )
    if not rows or (expected is not None and len(rows) < expected):
        return {"job_id": batch_id, "status": JOB_IN_PROGRESS, "conversion_results": []}
    members = []
    for r in rows:
        d = r.asDict()
        if d["error"]:
            members.append({"status": JOB_FAILURE, "error": d["error"], "result": None})
        else:
            members.append(
                {
                    "status": JOB_SUCCESS,
                    "error": None,
                    "result": {"filename": d["filename"], "markdown": d["markdown"]},
                }
            )
    return {"job_id": batch_id, "status": JOB_SUCCESS, "conversion_results": members}


def drain_stream_upsert(stream_df: DataFrame, keys: list[str], prefix: str = "upsert") -> DataFrame:
    """Run an UPDATE-mode stream through a foreachBatch upsert sink and
    return the resulting snapshot — the production pattern for keyed
    aggregates (running totals, latest-state tables) that file sinks
    can't take in append mode.

    Sink layout is merge-on-read (Hudi/Delta MOR shape without the
    table format): each micro-batch APPENDS its changed rows stamped
    with the batch id; the snapshot read resolves latest-batch-wins per
    key with one window. Appends keep the foreachBatch write atomic and
    idempotent-enough for at-least-once replay (a replayed batch id
    overwrites itself in the read view); a real deployment compacts the
    log periodically with the same latest-wins query.
    """
    from pyspark.sql import Window as W

    spark = stream_df.sparkSession
    root = tempfile.mkdtemp(prefix=f"{prefix}_drain_")
    log_dir = os.path.join(root, "log")
    ckpt_dir = os.path.join(root, "ckpt")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(log_dir)
        )

    try:
        _run_available_now(
            stream_df.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt_dir),
            spark,
        )

        # an empty source produces zero micro-batches → no parquet files, and
        # a bare read would die on schema inference. The stream schema is
        # known statically, so return an empty frame with it.
        if not os.path.isdir(log_dir) or not any(
            f.endswith(".parquet") for f in os.listdir(log_dir)
        ):
            return spark.createDataFrame([], stream_df.schema)

        log = spark.read.parquet(log_dir)
        w = W.partitionBy(*keys).orderBy(F.col("_batch_id").desc())
        snapshot = (
            log.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_batch_id")
        )
        # the snapshot must outlive the temp log (lazy plan) — materialize
        # it driver-side-free via localCheckpoint before the log goes
        return snapshot.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
