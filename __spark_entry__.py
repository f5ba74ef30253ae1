"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``docling_api_spark`` package; this module
only adapts its plan registry to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _ship_package(spark: SparkSession) -> None:
    """Make docling_api_spark importable on executor Python workers.

    Queries that use pandas UDFs / mapInPandas pickle closures referencing
    the package; workers spawned with a different cwd (the driver's) can't
    import it from /root/repo. addPyFile distributes a zip of the package
    to every worker's sys.path.
    """
    if getattr(spark, "_docling_api_spark_shipped", False):
        return
    import shutil
    import tempfile

    zip_base = os.path.join(
        tempfile.mkdtemp(prefix="docling_api_spark_pkg_"), "docling_api_spark_pkg"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=_REPO_DIR, base_dir="docling_api_spark"
    )
    spark.sparkContext.addPyFile(zip_path)
    spark._docling_api_spark_shipped = True


def _prepare(spark: SparkSession) -> SparkSession:
    """Set the engine's runtime confs on a session the driver built (it
    may have none of them: without nanosAsLong every events query fails on
    the parquet TIMESTAMP(NANOS) column) and ship the package."""
    from docling_api_spark.session import runtime_confs

    for k, v in runtime_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going
    try:
        _ship_package(spark)
    except Exception:
        pass  # workers sharing the driver's path still work
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    from docling_api_spark.plans import all_queries

    _prepare(spark)
    return all_queries()["q01_pricing_summary"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §2.9."""
    from docling_api_spark.plans import all_queries

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(_prepare(spark), sf_dir)

        return run

    return {name: wrap(q.fn) for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query (others rows-only)."""
    from docling_api_spark.plans import all_queries

    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
