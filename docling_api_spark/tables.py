"""Canonical loaders for the driver's test tables (TESTDATA.md).

The DuckDB oracle registers each parquet as a view with its file schema,
except `events.ts` which DuckDB reads as a µs timestamp (truncating the
file's nanosecond precision). We normalize Spark's view of `events` to the
same µs timestamp so Spark SQL and oracle SQL see identical values.

At 100 TB these would be partitioned/bucketed catalog tables; the loaders
keep the access path in one place so that swap is a one-file change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_api_spark.session import shuffle_partitions

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _ntz_as_utc_instant(colname: str):
    """TIMESTAMP_NTZ wall-clock → TIMESTAMP instant, treating the wall clock
    as UTC — independent of spark.sql.session.timeZone (a plain cast would
    shift values by the session offset). DuckDB reads the same parquet
    column as a naive timestamp with identical micros, so this keeps both
    engines byte-identical."""
    return F.expr(
        "timestamp_micros(timestampdiff(MICROSECOND, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{colname}`))"
    )


# --- scan-spread guard (optimization guide §2.5: input skew) -----------------
# The driver's test tables are ONE parquet file with ONE row group each, so
# Spark's scan packs every row into a single task no matter what
# maxPartitionBytes says (a row group is the minimum split unit): every
# narrow operation before the first exchange — filters, projections, md5 /
# shingle / tokenize work, map-side partial aggregation, Arrow batches into
# a lone Python worker — runs on ONE core of the 32. Measured r15: q43's
# signature materialization was a 4.3 s single-task stage; q106's
# Misra-Gries pass a 1.1 s single-task stage; q01's scan+agg 3 tasks.
#
# Remedy is the guide's own: repartition immediately after the read — but
# scale-ADAPTIVELY, so the fix is a no-op exactly where it isn't needed.
# The spread fires only when the table is a single file (a real deployment
# reads a multi-file table whose scan already parallelizes; sf0.001-sf0.1
# is the one-file case) and big enough that single-threading its narrow
# work matters. It hash-partitions on the table's natural key — unique-ish
# AND the commonest downstream join/aggregation key, so the exchange it
# adds is frequently the SAME exchange the first keyed operation needed
# anyway (outputPartitioning reuse), not a net extra shuffle. Keyed hash
# partitioning (not round-robin repartition(n)) also skips the
# sortBeforeRepartition local sort and is deterministic under task retry.
# Only the tables whose consumers do heavy NARROW work before their first
# exchange (text tokenize/shingle/md5 over documents; per-row vector math
# over embeddings) are spread. For the relational tables the first
# operation is almost always an aggregation or join — the plan's own first
# exchange starts there anyway, and an earlier spread would only defeat
# map-side partial aggregation (measured: q29 1.36 s → 2.67 s with orders/
# lineitem spread — raw rows shuffled where partial aggs used to) while
# buying nothing the first keyed exchange doesn't already buy.
_SPREAD_KEY = {
    "documents": "doc_id",
    "embeddings": "vec_id",
}


# Spread gate and width. A file below SPREAD_MIN_BYTES is not spread: its
# narrow work is too small for single-threading to matter. The width
# is min(SPREAD_MAX_PARTS, shuffle partitions), NOT the full core count:
# the corpus this guard exists for is small (one row group), so per-task
# fixed costs (hash-agg buffer setup, checkpoint block reads, Python
# worker round-trips) overtake the parallelism win past ~8 tasks.
# Measured r15 fresh-session A/B over the 12 document/embedding headline
# queries: min-sum ×0.83 at 8 parts vs no spread, and 8 parts beat 32 on
# 5 of 6 (q106 1.67× slower at 32 than 8). Below 8 cores the width
# tracks the shuffle partitions, so the driver's low-core bench keeps its
# geometry.
SPREAD_MIN_BYTES = 256 * 1024
SPREAD_MAX_PARTS = 8


def _scan_spread_parts(spark: SparkSession, path: str) -> int:
    """Partitions to spread a scan of ``path`` over, or 0 when the spread
    should not fire: ``path`` is not a single file of at least
    SPREAD_MIN_BYTES, or the session has one shuffle partition."""
    if not os.path.isfile(path) or os.path.getsize(path) < SPREAD_MIN_BYTES:
        return 0
    n = shuffle_partitions(spark)
    return min(n, SPREAD_MAX_PARTS) if n > 1 else 0


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread_key: str | bool | None = None,
) -> DataFrame:
    """Load one test table, normalizing types for oracle parity.

    ``spread_key`` tunes the scan-spread guard per call: a column name
    opts a non-default table in (e.g. q221's 4.8M md5 draws over orders —
    heavy narrow compute before the first exchange; same gating — single
    file, size threshold — so it is a no-op on a real multi-file table);
    ``False`` opts OUT a default-spread table for a caller whose narrow
    work is cheap and whose payload should never cross an exchange (e.g.
    q104: per-doc digests in the scan stage, only (id, digest) pairs may
    shuffle — the spread exchange would move the full text)."""
    # Unannotated parquet timestamps (isAdjustedToUTC=false) read as
    # TIMESTAMP (UTC instant), matching the DuckDB oracle's naive micros:
    # session.runtime_confs() turns Spark 4's NTZ inference off. Any
    # TIMESTAMP_NTZ column that still appears is converted below.
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # parquet TIMESTAMP(NANOS) read as raw ns longs
        # (spark.sql.legacy.parquet.nanosAsLong) → truncate to µs exactly
        # like DuckDB does on read. Integer `div`, NOT `/`: ns epoch values
        # (~1.7e18) exceed double's 2^53 integer range, so float division
        # silently rounds the low microsecond digit.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for fld in df.schema.fields:
        if isinstance(fld.dataType, T.TimestampNTZType):
            df = df.withColumn(fld.name, _ntz_as_utc_instant(fld.name))
    key = _SPREAD_KEY.get(name) if spread_key is None else spread_key
    if key:
        n = _scan_spread_parts(spark, f"{sf_dir}/{name}.parquet")
        if n:
            df = df.repartition(n, key)
    return df


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table with `ts` normalized to TIMESTAMP.

    Probes the parquet footer via a batch schema read instead of hardcoding
    the file's timestamp encoding — the driver's test tables have shipped
    `ts` as TIMESTAMP(NANOS)-read-as-long, µs TIMESTAMP_NTZ, and µs UTC at
    different times, and a readStream schema baked for one encoding
    silently corrupts (ns→µs div on µs values) or fails on the others.
    """
    src = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(src)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = src["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) as raw ns longs — integer div, see load_table
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        stream = stream.withColumn("ts", _ntz_as_utc_instant("ts"))
    return stream


def literal_df(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """A tiny constant table as ONE JVM-native partition.

    Drop-in for ``spark.createDataFrame(rows, schema)`` on literal
    parameter tables (probe positions, thresholds, mix weights).
    ``createDataFrame`` parallelizes the rows into ``defaultParallelism``
    pickled slices, and EVERY consuming job then runs a
    parallelism-wide stage whose tasks each round-trip a Python worker
    just to unpickle a handful of rows — measured r15 on q118: a
    32-task, ~0-CPU, 8s-executor-time stage per run for a 15-row table.
    Here the rows become ``inline(array(struct(...)))`` literals over a
    one-partition ``range(1)``: no Python workers, one task, and the
    values are bit-identical (``lit().cast()`` on ints/floats/strings
    is exact).

    Only for SMALL tables (expression tree grows with rows × cols;
    keep it under a few hundred rows — parameter tables, not data).

    Every field is wrapped ``when(true, lit)`` so the schema keeps
    ``createDataFrame``'s nullable=true columns — result schemas are
    driver-graded, so the swap must be invisible there too.
    """
    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if not rows:
        # inline() needs a typed array; an empty one has no element type
        return spark.createDataFrame(rows, st)
    for row in rows:
        # positional tuples/lists only: Row/dict rows would zip against the
        # schema silently misaligned, and a short row would truncate
        if not isinstance(row, (tuple, list)) or len(row) != len(st.fields):
            raise TypeError(
                f"literal_df rows must be tuples/lists of exactly "
                f"{len(st.fields)} values (got {row!r})"
            )
    structs = [
        F.struct(
            *[
                F.when(F.lit(True), F.lit(v).cast(f.dataType)).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))
