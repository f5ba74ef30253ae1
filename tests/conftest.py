"""Shared fixtures: one SparkSession per test run + a DuckDB oracle comparator
that mimics the driver's correctness gate (row count + schema + order-
insensitive values), but stricter: values are compared exactly."""

from __future__ import annotations

import datetime
import itertools
import math
import os
import sys

import duckdb
import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from docling_api_spark.session import get_spark  # noqa: E402
from docling_api_spark.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="docling-api-spark-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]"),
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture()
def set_shuffle_partitions(spark):
    """Setter for the session's runtime `spark.sql.shuffle.partitions`;
    the value in force before the test is restored afterwards."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    yield lambda n: spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.shuffle.partitions", prev)


_JOB_GROUPS = itertools.count()


def jobs_started(spark, fn, *args, **kwargs):
    """(fn(*args, **kwargs), number of Spark jobs it started). Each call
    takes a fresh job group: the status tracker keeps old groups' jobs."""
    sc = spark.sparkContext
    group = f"jobs-started-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        result = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell value for cross-engine comparison."""
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, int):
        return repr(int(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    # numpy scalars from duckdb fetchall
    if hasattr(v, "item"):
        return _norm(v.item())
    return str(v)


def compare_to_oracle(spark_df, oracle_con, oracle_query: str, float_places: int | None = None):
    """Assert Spark result == DuckDB oracle result, order-insensitively."""
    spark_cols = [c.lower() for c in spark_df.columns]
    rel = oracle_con.sql(oracle_query)
    oracle_cols = [c.lower() for c in rel.columns]
    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    )

    def roundf(v):
        if float_places is not None and isinstance(v, float) and not math.isnan(v):
            return round(v, float_places)
        return v

    cols_sorted = sorted(spark_cols)
    s_idx = [spark_cols.index(c) for c in cols_sorted]
    o_idx = [oracle_cols.index(c) for c in cols_sorted]

    s_rows = sorted(
        tuple(_norm(roundf(row[i])) for i in s_idx) for row in spark_df.collect()
    )
    o_rows = sorted(
        tuple(_norm(roundf(row[i])) for i in o_idx) for row in rel.fetchall()
    )
    assert len(s_rows) == len(o_rows), f"row count: spark={len(s_rows)} oracle={len(o_rows)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
