"""Watermark semantics under genuinely late data: an event older than the
current watermark must be dropped from its (already-closing) window — the
bounded-state guarantee that makes event-time aggregation survive
unbounded streams (SURVEY §2.9 event-time rows; q36 is the happy path,
this pins the late-drop path)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

H = 3600


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_late_event_beyond_watermark_is_dropped(spark, tmp_path):
    import datetime as dt

    def t(hours, minutes=0):
        return dt.datetime(2024, 1, 1, hours, minutes)

    landing = str(tmp_path / "landing")
    name = "late_sink_" + uuid.uuid4().hex[:8]

    # batch 1: two events in the 10:00 window, one at 12:30 that will push
    # the watermark (1h delay) to 11:30
    _write_events(
        spark,
        landing,
        [(1, t(10, 0), 1.0), (2, t(10, 30), 1.0), (3, t(12, 30), 1.0)],
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .parquet(landing)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_micros(F.col("w.start")).alias("ws"), "n_events")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event 4 is LATE (10:45 < watermark 11:30) → dropped;
        # event 5 advances the stream
        _write_events(spark, landing, [(4, t(10, 45), 1.0), (5, t(14, 0), 1.0)])
        q.processAllAvailable()
        out = {r["ws"]: r["n_events"] for r in spark.table(name).collect()}
    finally:
        q.stop()

    ten_am_us = int(dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    # the 10:00 window was finalized with ONLY the two on-time events —
    # the late 10:45 event did not resurrect or inflate it
    assert out[ten_am_us] == 2
