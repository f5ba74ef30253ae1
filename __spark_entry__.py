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

from docling_api_spark.session import prepare as _prepare  # noqa: E402


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
