"""Status reads of the async job path and the temp directories of a
bounded drain: a status read takes the results table's declared schema
(one Spark job per read, no inference), and a drain leaves nothing behind
in the temp dir once its process exits."""

from __future__ import annotations

import os
import subprocess
import sys

from docling_api_spark.streaming.jobs import (
    RESULTS_SCHEMA,
    get_batch_status,
    get_job_status,
    start_conversion_stream,
)
from tests.conftest import jobs_started

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _committed_sink(spark, tmp_path) -> str:
    landing = tmp_path / "landing"
    results = tmp_path / "results"
    landing.mkdir()
    (landing / "batch-1_a.md").write_bytes(b"# a")
    (landing / "b.xyz").write_bytes(b"unrecognized")
    q = start_conversion_stream(spark, str(landing), str(results), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return str(results)


def test_status_reads_use_the_declared_schema(spark, tmp_path):
    results = _committed_sink(spark, tmp_path)

    inferred = spark.read.parquet(results).schema
    assert [(f.name, f.dataType, f.nullable) for f in RESULTS_SCHEMA.fields] == [
        (f.name, f.dataType, f.nullable) for f in inferred.fields
    ]

    _, jobs = jobs_started(spark, get_job_status, spark, results, "batch-1_a.md")
    assert jobs == 1
    assert get_job_status(spark, results, "batch-1_a.md")["status"] == "SUCCESS"
    assert get_job_status(spark, results, "b.xyz")["status"] == "FAILURE"
    assert get_batch_status(spark, results, "batch-1")["status"] == "SUCCESS"

    missing = str(tmp_path / "no_sink_yet")
    assert get_job_status(spark, missing, "a.md")["status"] == "IN_PROGRESS"
    assert get_batch_status(spark, missing, "batch-1")["status"] == "IN_PROGRESS"


def _run_in_tmpdir(tmp_path, body: str):
    """Run `body` after a one-core `get_spark` in a fresh process whose
    TMPDIR is an empty directory; return the process and that directory."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = tmp_path / "script.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO_DIR!r})\n"
        "from docling_api_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        f"spark.range(3).write.parquet({str(tmp_path / 'src')!r})\n"
        f"stream = spark.readStream.schema('id long').parquet({str(tmp_path / 'src')!r})\n"
        + body
        + "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out, tmp


def test_drain_leaves_no_temp_dirs(tmp_path):
    """A process that drains a stream and reads its result leaves nothing
    in its temp dir: the checkpoint goes when the drain stops, the output
    directory at exit."""
    out, tmp = _run_in_tmpdir(
        tmp_path,
        "from docling_api_spark.streaming.jobs import drain_stream_to_parquet\n"
        "print('ROWS', len(drain_stream_to_parquet(stream, prefix='t').collect()))\n",
    )
    assert "ROWS 3" in out.stdout, out.stdout
    assert sorted(os.listdir(tmp)) == []


def test_failed_upsert_drain_leaves_no_temp_dirs(tmp_path):
    """An upsert drain whose micro-batch fails raises, and removes its
    log and checkpoint directory on the way out."""
    out, tmp = _run_in_tmpdir(
        tmp_path,
        "from pyspark.sql import functions as F\n"
        "from docling_api_spark.streaming.jobs import drain_stream_upsert\n"
        "def boom(x):\n"
        "    raise ValueError('boom')\n"
        "bad = stream.select(F.udf(boom, 'long')('id').alias('id'))\n"
        "try:\n"
        "    drain_stream_upsert(bad, keys=['id'], prefix='t')\n"
        "except Exception:\n"
        "    print('RAISED')\n",
    )
    assert "RAISED" in out.stdout, out.stdout
    assert sorted(os.listdir(tmp)) == []
