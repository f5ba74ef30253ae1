"""tables.literal_df against its reference, spark.createDataFrame.

literal_df builds a small constant table from literals on one JVM
partition instead of pickled Python rows. Its callers swap it in for
createDataFrame, so both must give the same schema (nullable columns
included) and the same rows for the types the callers pass."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from docling_api_spark.tables import literal_df

SCHEMA = "i int, b bigint, d double, s string"
STRUCT = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("b", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ]
)
ROWS = [
    (1, 2**40 + 1, 0.1, "a"),
    (-7, -(2**62), 1e-300, ""),
    (None, None, None, None),
    (2**31 - 1, 0, 123456789.125, "ünï code"),
]


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("schema", [SCHEMA, STRUCT])
def test_matches_create_dataframe(spark, schema):
    got = literal_df(spark, ROWS, schema)
    want = spark.createDataFrame(ROWS, schema)
    assert got.schema == want.schema
    assert all(f.nullable for f in got.schema.fields)
    assert [repr(r) for r in _rows(got)] == [repr(r) for r in _rows(want)]
    assert got.rdd.getNumPartitions() == 1


def test_empty_rows_keep_the_schema(spark):
    got = literal_df(spark, [], SCHEMA)
    assert got.schema == spark.createDataFrame([], SCHEMA).schema
    assert got.collect() == []


@pytest.mark.parametrize(
    "bad",
    [
        (1, 2, 0.5),  # short row: would silently drop the last column
        {"i": 1, "b": 2, "d": 0.5, "s": "x"},  # dict: no positional order
    ],
)
def test_rejects_rows_that_are_not_full_positional_tuples(spark, bad):
    with pytest.raises(TypeError, match="exactly 4 values"):
        literal_df(spark, [ROWS[0], bad], SCHEMA)
