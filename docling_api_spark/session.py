"""SparkSession factory tuned for this engine.

Scaling posture (mirrors the reference's deployment knobs, SURVEY.md §4/§6):
the reference runs one heavyweight conversion task per worker (`--pool=solo`,
docker-compose.yml:48) and preloads models per worker; here that maps to
executor-level config (`spark.task.cpus` for the conversion stage, lazy
per-executor singletons in the UDF module) while the relational surface relies
on Catalyst + AQE.

Local test mode is `local[N]` (single JVM); on a real cluster the same
configs hold, plus dynamic allocation / executor sizing set by the deployer.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# The events table is written with parquet TIMESTAMP(NANOS); Spark's
# TimestampType is microsecond so we read nanos as raw longs and convert
# with integer division (exactly what DuckDB's µs truncation does).
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


_MAX_DRIVER_MEM_GIB = 24

# set on a session once get_spark or prepare has configured it
_PREPARED = "_docling_api_spark_prepared"


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def runtime_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The runtime SQL confs the engine's plans assume. `get_spark` builds
    its session with them; `prepare` sets them on a session someone else
    built. Shuffle partitions default to one per core (SPARK_GRAFT_CPUS)."""
    if shuffle_partitions is None:
        shuffle_partitions = int(_cpus())
    return {
        NANOS_AS_LONG: "true",
        # naive µs parquet timestamps read as TIMESTAMP (UTC instant) like
        # Spark 3.x / DuckDB, not Spark 4's inferred TIMESTAMP_NTZ
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow batch sizing (optimization guide §4.2): bound batches by
        # BYTES, not a row count. The old maxRecordsPerBatch=256 guarded
        # the conversion stage's megabyte binary rows, but it equally
        # throttled every narrow-row Python pass — q106's token-level
        # Misra-Gries consumed ~600k 10-byte rows as ~2300 Arrow batches
        # per task, all serialization round-trips. maxBytesPerBatch keeps
        # the memory bound the 256-row cap was for (large rows still cut
        # batches early; mirrors the reference's lazy one-at-a-time
        # convert_all iterator, service.py:171-177) while narrow rows get
        # full 10k-row batches.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.execution.arrow.maxBytesPerBatch": str(16 * 1024 * 1024),
    }


def default_driver_memory() -> str:
    """`spark.driver.memory` when SPARK_GRAFT_DRIVER_MEM is unset: half the
    machine's physical memory in whole GiB, at least 1g and at most 24g.
    The other half stays with the Python workers that decode documents
    and with the OS. Where physical memory cannot be read, 24g."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return f"{_MAX_DRIVER_MEM_GIB}g"
    return f"{max(1, min(_MAX_DRIVER_MEM_GIB, phys // 2**30 // 2))}g"


def get_spark(
    app_name: str = "docling-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard config.

    Defaults are sized for the local test harness but every choice is
    cluster-safe: AQE re-plans shuffles at runtime (partition coalescing,
    skew-join splitting, broadcast demotion), Arrow keeps the pandas-UDF
    boundary columnar, UTC pins timestamp semantics for oracle parity.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{_cpus()}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # executor thread caps carried over from the reference's tuning
        # (docker-compose.yml:16-18): avoid oversubscription in native libs
        .config("spark.executorEnv.OMP_NUM_THREADS", "2")
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "2")
    )
    for k, v in {**runtime_confs(shuffle_partitions), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    setattr(spark, _PREPARED, True)
    return spark


def prepare(spark: SparkSession) -> SparkSession:
    """Set the engine's runtime confs on a session someone else built (it
    may have none of them: without nanosAsLong every events query fails on
    the parquet TIMESTAMP(NANOS) column) and ship the package. A session
    that `get_spark` built, or that was prepared before, is left as it
    is, so its shuffle width does not depend on who called first."""
    if getattr(spark, _PREPARED, False):
        return spark
    for k, v in runtime_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going
    try:
        _ship_package(spark)
    except Exception:
        pass  # workers sharing the driver's path still work
    setattr(spark, _PREPARED, True)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make docling_api_spark importable on executor Python workers, once
    per SparkContext.

    Queries that use pandas UDFs / mapInPandas pickle closures referencing
    the package; workers spawned with a different cwd (the driver's) can't
    import it. addPyFile distributes a zip of the package to every
    worker's sys.path. Workers fetch the zip lazily, so it stays on disk
    until the process exits.
    """
    sc = spark.sparkContext
    if getattr(sc, "_docling_api_spark_shipped", False):
        return
    zip_dir = tempfile.mkdtemp(prefix="docling_api_spark_pkg_")
    atexit.register(shutil.rmtree, zip_dir, ignore_errors=True)
    zip_base = os.path.join(zip_dir, "docling_api_spark_pkg")
    zip_path = shutil.make_archive(
        zip_base,
        "zip",
        root_dir=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        base_dir="docling_api_spark",
    )
    sc.addPyFile(zip_path)
    sc._docling_api_spark_shipped = True


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's `spark.sql.shuffle.partitions`, or Spark's default of
    200 when the value is not an integer (e.g. "auto" under some AQE
    configs)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        return 200


def liveness(spark: SparkSession) -> bool:
    """Liveness probe (reference /health, main.py:33-38): the session object
    exists and its context hasn't been stopped."""
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def readiness(spark: SparkSession) -> bool:
    """Readiness probe (reference /health/ready, main.py:41-47: broker
    round-trip ≙ executors actually run a job)."""
    try:
        return spark.range(1).count() == 1
    except Exception:
        return False


def readiness_status(
    spark: SparkSession, max_retries: int = 1, timeout: float = 2.0
) -> dict:
    """Structured readiness with bounded retry + timeout — the full contract
    of the reference's probe (main.py:41-47 does
    `conn.ensure_connection(max_retries=1, timeout=2)` and answers
    `{"status": "ok", "broker": "ok"}` or a degraded payload with the
    error, never a 500). Here the "broker" is the cluster scheduler: a
    round-trip means executors actually accept and run a job.

    The probe job runs on a dedicated thread so a hung scheduler degrades
    the status after `timeout` seconds instead of wedging the health
    endpoint — the property the reference gets from ensure_connection's
    socket timeout.
    """
    import concurrent.futures

    last_err: Exception | None = None
    for _ in range(max_retries + 1):
        # no `with`: the CM would JOIN a hung probe thread on exit, turning
        # the timeout we just enforced back into an indefinite wait
        ex = concurrent.futures.ThreadPoolExecutor(max_workers=1)
        try:
            fut = ex.submit(lambda: spark.range(1).count())
            if fut.result(timeout=timeout) == 1:
                return {"status": "ok", "scheduler": "ok"}
            last_err = RuntimeError("probe job returned wrong count")
        except Exception as exc:  # timeout or submission failure
            last_err = exc
        finally:
            ex.shutdown(wait=False, cancel_futures=True)
    return {"status": "degraded", "scheduler": f"unreachable: {last_err}"}
