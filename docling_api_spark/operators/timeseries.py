"""Event-time operators over the `events` table (SURVEY.md M2 / §2.9).

Batch forms of tumbling/sliding/session windows, as-of join, and range
joins — each oracle-checkable in SQL. The same logic runs as Structured
Streaming in q36 (rows-only) and in docling_api_spark.streaming.

Scale notes:
- Window aggregations group on derived time buckets → one shuffle, partial
  aggregation map-side, no skew (time is uniform).
- The as-of join avoids a per-row subquery by union-tagging both sides and
  running one pass of `last(...) ignorenulls` over a user/time window —
  O(n log n) within each user partition, no join explosion.
- The pure range join buckets both sides on the range width and equi-joins
  on the bucket (each left row probes 2 buckets). A naive theta join would
  be a BroadcastNestedLoopJoin — quadratic at 100 TB; the bucket join is
  a plain shuffle join with output-bounded cost.
- All timestamps are compared/emitted as epoch microseconds so Spark (µs)
  and DuckDB (ns→µs truncation) see identical integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_api_spark.functions.numeric import dsum, sql_dsum
from docling_api_spark.functions.quantiles import distributed_quantiles
from docling_api_spark.plans.registry import register
from docling_api_spark.tables import literal_df, load_table

US_30MIN = 30 * 60 * 1_000_000
US_1H = 60 * 60 * 1_000_000


# ---------------------------------------------------------------------------
# q30 — tumbling event-time window
# ---------------------------------------------------------------------------
@register(
    "q30_tumbling_window",
    tags=("eventtime", "window_agg"),
    bench=True,
    oracle=f"""
        SELECT
          epoch_us(date_trunc('hour', ts)) AS window_start_us,
          event_type,
          COUNT(*) AS n_events,
          {sql_dsum('value', 'total_value')}
        FROM events
        GROUP BY 1, 2
    """,
)
def q30_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type (batch form of the streaming agg)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q31 — sliding event-time window (1h window, 30min slide)
# ---------------------------------------------------------------------------
@register(
    "q31_sliding_window",
    tags=("eventtime", "window_agg"),
    oracle=f"""
        WITH b AS (
          SELECT epoch_us(ts) - (epoch_us(ts) % {US_30MIN}) AS b_us, value FROM events
        ),
        w AS (
          SELECT b_us AS window_start_us, value FROM b
          UNION ALL
          SELECT b_us - {US_30MIN} AS window_start_us, value FROM b
        )
        SELECT
          window_start_us,
          COUNT(*) AS n_events,
          {sql_dsum('value', 'total_value')}
        FROM w
        GROUP BY window_start_us
    """,
)
def q31_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2 windows).

    Oracle emulation: window starts are the event's 30-min bucket and the
    bucket before it — Spark's `window()` aligns starts to the epoch, so the
    two formulations agree exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q32 — session windows (30-minute inactivity gap) per user
# ---------------------------------------------------------------------------
@register(
    "q32_session_window",
    tags=("eventtime", "session"),
    bench=True,
    oracle=f"""
        WITH e AS (
          SELECT
            user_id,
            epoch_us(ts) AS t_us,
            value,
            CASE
              WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   >= {US_30MIN} THEN 1
              ELSE 0
            END AS new_sess
          FROM events
        ),
        s AS (
          SELECT *,
                 SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY t_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS sess_id
          FROM e
        )
        SELECT
          user_id,
          MIN(t_us) AS session_start_us,
          COUNT(*) AS n_events,
          {sql_dsum('value', 'total_value')}
        FROM s
        GROUP BY user_id, sess_id
    """,
)
def q32_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap (`session_window`).

    Spark semantics: an event at exactly prev_ts + gap starts a new session
    (session interval is half-open) — the oracle's gaps-and-islands uses
    `>= gap` to match.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q33 — as-of join (latest signup at-or-before each purchase, per user)
# ---------------------------------------------------------------------------
@register(
    "q33_asof_join",
    tags=("join", "asof"),
    bench=True,
    oracle="""
        SELECT
          p.event_id AS p_event_id,
          p.user_id  AS user_id,
          epoch_us(p.ts) AS p_ts_us,
          s.event_id AS s_event_id,
          epoch_us(p.ts) - epoch_us(s.ts) AS lag_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def q33_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent signup at or before it.

    Spark lacks a native ASOF JOIN; the scalable emulation union-tags both
    sides and takes `last(signup, ignorenulls)` over an event-time window
    per user — a single sort within each user partition instead of a
    range-join explosion. (DuckDB's native ASOF JOIN is the oracle.)
    """
    ev = load_table(spark, sf_dir, "events").withColumn("t_us", F.unix_micros("ts"))
    sig = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "t_us", F.col("event_id").alias("eid"), F.lit(0).alias("kind")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "t_us", F.col("event_id").alias("eid"), F.lit(1).alias("kind")
    )
    # kind asc ⇒ at equal timestamps the signup sorts first, so `p.ts >= s.ts`
    # (inclusive) semantics hold.
    w = (
        W.partitionBy("user_id")
        .orderBy("t_us", "kind", "eid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = sig.unionByName(pur).withColumn(
        "last_sig",
        F.last(
            F.when(F.col("kind") == 0, F.struct(F.col("t_us"), F.col("eid"))),
            ignorenulls=True,
        ).over(w),
    )
    return tagged.filter(F.col("kind") == 1).select(
        F.col("eid").alias("p_event_id"),
        F.col("user_id"),
        F.col("t_us").alias("p_ts_us"),
        F.col("last_sig.eid").alias("s_event_id"),
        (F.col("t_us") - F.col("last_sig.t_us")).alias("lag_us"),
    )


# ---------------------------------------------------------------------------
# q34 — keyed range join (funnel: purchase within 30min of a click)
# ---------------------------------------------------------------------------
@register(
    "q34_funnel_range_join",
    tags=("join", "range"),
    oracle=f"""
        SELECT
          a.user_id AS user_id,
          COUNT(*) AS n_pairs,
          MIN(epoch_us(b.ts) - epoch_us(a.ts)) AS min_gap_us
        FROM (SELECT * FROM events WHERE event_type = 'click') a
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
          ON a.user_id = b.user_id
         AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 1 AND {US_30MIN}
        GROUP BY a.user_id
    """,
)
def q34_funnel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase funnel: equi-join on user + time-range predicate.

    The user_id equality makes this a plain shuffle hash join with the range
    as a residual filter — no quadratic blowup at scale.
    """
    ev = load_table(spark, sf_dir, "events").withColumn("t_us", F.unix_micros("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("a_user"), F.col("t_us").alias("a_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("t_us").alias("b_us")
    )
    return (
        clicks.join(
            purchases,
            (F.col("a_user") == F.col("b_user"))
            & ((F.col("b_us") - F.col("a_us")).between(1, US_30MIN)),
        )
        .groupBy(F.col("a_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.col("b_us") - F.col("a_us")).alias("min_gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# q35 — pure (keyless) range join via bucketing
# ---------------------------------------------------------------------------
@register(
    "q35_bucketed_range_join",
    tags=("join", "range", "bucketed"),
    bench=True,
    oracle="""
        SELECT
          e.event_id AS error_id,
          p.event_id AS purchase_id,
          epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON epoch_us(p.ts) - epoch_us(e.ts) BETWEEN 1 AND 60000000
    """,
)
def q35_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless temporal range join (purchases within 60s after any error).

    Implementation buckets both sides at the range width (60s) and equi-joins
    on the bucket, with each error probing its own and the next bucket. This
    turns an O(n·m) theta join (BroadcastNestedLoopJoin in Spark) into a
    shuffle hash join whose cost is bounded by the true output size — the
    only formulation that survives 100 TB. Each qualifying pair matches in
    exactly one bucket (a purchase has one bucket; the error contributes one
    probe row per distinct bucket value).
    """
    bucket_us = 60_000_000
    ev = load_table(spark, sf_dir, "events").withColumn("t_us", F.unix_micros("ts"))
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), F.col("t_us").alias("e_us"))
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    (F.col("e_us") / bucket_us).cast("long"),
                    (F.col("e_us") / bucket_us).cast("long") + 1,
                )
            ),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("t_us").alias("p_us"),
        (F.col("t_us") / bucket_us).cast("long").alias("bucket"),
    )
    return (
        errors.join(purchases, "bucket")
        .filter((F.col("p_us") - F.col("e_us")).between(1, bucket_us))
        .select("error_id", "purchase_id", (F.col("p_us") - F.col("e_us")).alias("gap_us"))
    )


# ---------------------------------------------------------------------------
# q36 — Structured Streaming tumbling aggregate (rows-only)
# ---------------------------------------------------------------------------
@register(
    "q36_streaming_tumbling",
    tags=("eventtime", "streaming"),
    oracle=f"""
        SELECT
          epoch_us(date_trunc('hour', ts)) AS window_start_us,
          event_type,
          COUNT(*) AS n_events,
          {sql_dsum('value', 'total_value')}
        FROM events
        GROUP BY 1, 2
        HAVING epoch_us(date_trunc('hour', MIN(ts))) + {US_1H}
               <= (SELECT MAX(epoch_us(ts)) FROM events) - {US_1H}
    """,
)
def q36_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q30 aggregation executed as a real Structured Streaming query.

    Reads the events parquet through `readStream`, applies a 1-hour
    watermark + tumbling window, and drains through the PRODUCTION file
    sink (parquet results + checkpointed offsets — the
    streaming/jobs.py path; r2 used a driver-resident memory sink). The
    single-file input lands in one micro-batch, so append mode
    deterministically emits exactly the windows closed by the final
    watermark: window_end <= max(ts) - 1h. The oracle is q30's aggregation
    with that emission predicate (verified: the streaming result is the
    batch result minus the still-open tail windows); q30 pins the full
    batch values.
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.tables import events_stream

    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain_stream_to_parquet(stream, prefix="q36")


# ---------------------------------------------------------------------------
# q39 — gap filling / resampling to a fixed grid with forward fill
# ---------------------------------------------------------------------------
_M0 = 1704067200 // 60  # 2024-01-01 00:00 UTC in epoch minutes
_GRID = 1440  # one day at 1-minute resolution


@register(
    "q39_gap_fill_resample",
    tags=("eventtime", "resample", "ffill"),
    oracle=f"""
        WITH users AS (
          SELECT DISTINCT user_id FROM events WHERE user_id < 5
        ),
        grid AS (
          SELECT user_id, CAST(m AS BIGINT) AS minute
          FROM users, UNNEST(range({_M0}, {_M0 + _GRID})) AS u(m)
        ),
        obs AS (
          SELECT user_id, epoch_us(ts) // 60000000 AS minute,
                 arg_max(value, lpad(cast(epoch_us(ts) as varchar), 19, '0')
                                || lpad(cast(event_id as varchar), 19, '0'))
                   AS obs_value
          FROM events
          WHERE user_id < 5 AND epoch_us(ts) // 60000000 BETWEEN {_M0} AND {_M0 + _GRID - 1}
          GROUP BY 1, 2
        )
        SELECT
          g.user_id,
          g.minute,
          obs.obs_value AS minute_value,
          last_value(obs.obs_value IGNORE NULLS) OVER (
            PARTITION BY g.user_id ORDER BY g.minute
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) AS value_ffill
        FROM grid g LEFT JOIN obs ON g.user_id = obs.user_id AND g.minute = obs.minute
    """,
)
def q39_gap_fill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample 5 users' event values onto a 1-minute grid for the first day,
    forward-filling gaps (the hypertable/time-bucket-gapfill operator).

    Grid generation is sequence+explode (JVM-side); the fill is one
    `last(ignorenulls)` window per user — no per-gap joins. At scale the
    grid explodes to |users|×|buckets| rows but is pipelined straight into
    the window sort; partitioning by user keeps the state per-task bounded.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros("ts")
    )
    users = ev.filter(F.col("user_id") < 5).select("user_id").distinct()
    grid = users.select(
        "user_id",
        F.explode(F.sequence(F.lit(_M0), F.lit(_M0 + _GRID - 1))).alias("minute"),
    )
    obs = (
        ev.filter(
            (F.col("user_id") < 5)
            & F.expr(f"t_us div 60000000 BETWEEN {_M0} AND {_M0 + _GRID - 1}")
        )
        .groupBy("user_id", F.expr("t_us div 60000000").alias("minute"))
        # (t_us, event_id) lexicographic tie-break: equal-µs events are
        # possible after the ns->µs truncation in tables.py, and a bare
        # max_by(value, t_us) would be peer-order dependent on both
        # engines (same class as the r4 q215 advice)
        .agg(
            # r16: struct(t_us, event_id) orders exactly like the padded
            # string concat (both non-negative bigints) without building
            # a 38-char string per row; the oracle keeps the string form
            F.expr(
                "max_by(value, struct(t_us, event_id))"
            ).alias("obs_value")
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("minute")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.join(obs, ["user_id", "minute"], "left").select(
        "user_id",
        "minute",
        F.col("obs_value").alias("minute_value"),
        F.last("obs_value", ignorenulls=True).over(w).alias("value_ffill"),
    )


# ---------------------------------------------------------------------------
# q47 — retention cohorts (first-seen day × activity offset)
# ---------------------------------------------------------------------------
@register(
    "q47_retention_cohorts",
    tags=("eventtime", "retention", "agg"),
    oracle="""
        WITH firsts AS (
          SELECT user_id, MIN(date_trunc('day', ts)) AS cohort FROM events GROUP BY 1
        ),
        acts AS (
          SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        )
        SELECT
          strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
          CAST(date_diff('day', f.cohort, a.day) AS INTEGER) AS day_offset,
          COUNT(*) AS n_users
        FROM acts a JOIN firsts f ON a.user_id = f.user_id
        GROUP BY 1, 2
    """,
)
def q47_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention matrix: users grouped by first-seen day, counted on
    each later active day. Two hash aggregations + a broadcast of the tiny
    per-user cohort table."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("cohort")
    )
    acts = ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    return (
        acts.join(F.broadcast(firsts), "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("day"), F.col("cohort")).cast("int").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# q38 — salted aggregation over a skewed key (oracle = direct aggregation)
# ---------------------------------------------------------------------------
@register(
    "q38_salted_skew_agg",
    tags=("agg", "skew", "salting"),
    oracle=f"""
        SELECT
          event_type,
          COUNT(*) AS n_rows,
          {sql_dsum('value', 'total_value')}
        FROM events
        GROUP BY event_type
    """,
)
def q38_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation by the 5-value `event_type` key via salted two-phase
    aggregation (functions/skew.py). The oracle is the plain GROUP BY —
    exact decimal sums make the salted result bit-identical, proving the
    skew mitigation is semantics-free."""
    from docling_api_spark.functions.skew import salted_groupby_sum

    ev = load_table(spark, sf_dir, "events")
    return salted_groupby_sum(
        ev,
        keys=["event_type"],
        sum_cols={"total_value": "value"},
        n_salt=16,
        salt_on="event_id",
    )


# ---------------------------------------------------------------------------
# q37 — custom stateful streaming sessionization (rows-only)
# ---------------------------------------------------------------------------
@register(
    "q37_streaming_sessionize",
    tags=("eventtime", "streaming", "stateful"),
    oracle=f"""
        WITH e AS (
          SELECT
            user_id,
            epoch_us(ts) AS t_us,
            value,
            CASE
              WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   >= {US_30MIN} THEN 1
              ELSE 0
            END AS new_sess
          FROM events
        ),
        s AS (
          SELECT *,
                 SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY t_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS sess_id
          FROM e
        ),
        g AS (
          SELECT
            user_id,
            sess_id,
            MIN(t_us) AS session_start_us,
            COUNT(*) AS n_events,
            list_sum(list_transform(list(value ORDER BY t_us),
                                    x -> CAST(x AS DOUBLE))) AS total_value
          FROM s GROUP BY user_id, sess_id
        )
        SELECT user_id, session_start_us, n_events, total_value
        FROM (
          SELECT *, MAX(sess_id) OVER (PARTITION BY user_id) AS max_sess FROM g
        ) t
        WHERE sess_id < max_sess
    """,
)
def q37_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization as a custom stateful streaming operator
    (applyInPandasWithState): one open session per user carried across
    micro-batches, closed sessions emitted on proof of gap.

    Deterministic given the single-file input (one micro-batch, unique
    per-user event times), so the oracle replays it: q32's gaps-and-islands
    minus each user's final (still-open) session, with total_value as the
    SEQUENTIAL time-ordered float fold (list_sum of the ordered value list
    — exactly the operator's running `+=`, not the decimal-exact sum q32
    uses). q32 pins the batch semantics; the test suite additionally
    asserts closed == batch minus final. Drains through the production
    parquet sink (streaming/jobs.py), not a driver-resident memory sink.
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.streaming.stateful import sessionize_stream
    from docling_api_spark.tables import events_stream

    events = events_stream(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("t_us"), "value"
    )
    return drain_stream_to_parquet(sessionize_stream(events), prefix="q37")


# ---------------------------------------------------------------------------
# q49 — rolling z-score anomaly detection (trailing window, exact math)
# ---------------------------------------------------------------------------
_ZWIN = 5  # trailing window size (rows): 5 preceding .. 1 preceding
_ZMIN = 3  # minimum history before a row is scored


@register(
    "q49_rolling_zscore",
    tags=("eventtime", "anomaly", "window_frame"),
    bench=True,
    oracle=f"""
        WITH cents AS (
          SELECT user_id, event_id, epoch_us(ts) AS t_us,
                 CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
          FROM events
        ),
        framed AS (
          SELECT user_id, c,
                 COUNT(*)  OVER w AS n,
                 SUM(c)    OVER w AS s1,
                 SUM(c*c)  OVER w AS s2
          FROM cents
          WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
                       ROWS BETWEEN {_ZWIN} PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_scored,
               CAST(SUM(CASE WHEN (n*c - s1)*(n*c - s1) > 4*(n*s2 - s1*s1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
               CAST(SUM(CASE WHEN (n*c - s1)*(n*c - s1) > 4*(n*s2 - s1*s1)
                             THEN c ELSE 0 END) AS BIGINT) AS anomaly_cents
        FROM framed
        WHERE n >= {_ZMIN}
        GROUP BY user_id
    """,
)
def q49_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score anomaly detection: each event is scored
    against the trailing {5-preceding..1-preceding} frame of its user's
    history; |z| > 2 flags an anomaly.

    Exact cross-engine math: values are converted to integer cents via a
    DECIMAL(14,2) cast (identical round-half-up in both engines), and the
    z-test is cross-multiplied into pure integer arithmetic —
    (n·c − S1)² > 4·(n·S2 − S1²) is |c − mean| > 2σ with no division or
    float accumulation anywhere. The frame ORDER BY (t_us, event_id) is a
    total order, so ROWS frames agree across engines.

    Scale: one window pass partitioned by user_id (bounded state: the frame
    is 5 rows), then a keyed aggregate — no joins, no global sort. Skewed
    power-users only skew the sort within their partition, not the frame.
    """
    cents = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        (F.col("value").cast("decimal(14,2)") * 100).cast("bigint").alias("c"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(-_ZWIN, -1)
    )
    framed = cents.select(
        "user_id",
        "c",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("c").over(w).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2"),
    )
    is_anom = F.expr("(n*c - s1)*(n*c - s1) > 4*(n*s2 - s1*s1)")
    return (
        framed.filter(F.col("n") >= _ZMIN)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum(F.when(is_anom, 1).otherwise(0)).cast("bigint").alias("n_anomalies"),
            F.sum(F.when(is_anom, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("anomaly_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q58 — incremental rollup (continuous-aggregate shape: minute → hour)
# ---------------------------------------------------------------------------
@register(
    "q58_incremental_rollup",
    tags=("eventtime", "rollup", "continuous-aggregate"),
    bench=True,
    oracle="""
        SELECT
          epoch_us(date_trunc('hour', ts)) AS hour_start_us,
          event_type,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
          CAST(COUNT(DISTINCT date_trunc('minute', ts)) AS BIGINT) AS n_minutes
        FROM events
        GROUP BY 1, 2
    """,
)
def q58_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: a minute-level pre-aggregate
    (what a streaming rollup would maintain) re-aggregated to hours, with
    the oracle asserting the two-level result equals a direct hour-level
    aggregation.

    The minute sums stay DECIMAL(28,6) between the two levels (decimal
    addition is associative, so minute→hour re-summation is bit-identical
    to the direct sum — the property that makes incremental rollups sound).
    Scale: this is the standard pre-agg pattern for 100 TB event stores —
    the raw table is touched once to build the minute layer; every coarser
    resolution (hour/day/month) re-aggregates the much smaller layer below
    it, and partial aggregation makes the first shuffle carry only
    per-minute partials.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.date_trunc("minute", "ts")).alias("minute_us"),
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_start_us"),
        "event_type",
        "value",
    )
    minute = ev.groupBy("minute_us", "hour_start_us", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("v"),  # stays decimal
    )
    return minute.groupBy("hour_start_us", "event_type").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_minutes"),
    )


# ---------------------------------------------------------------------------
# q56 — streaming exact dedup with watermarked state eviction
# ---------------------------------------------------------------------------
@register(
    "q56_streaming_dedup",
    tags=("streaming", "dedup", "watermark"),
    oracle="""
        SELECT DISTINCT
          user_id,
          event_type,
          epoch_us(date_trunc('minute', ts)) AS minute_us
        FROM events
    """,
)
def q56_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: dropDuplicates on
    (user_id, event_type, minute) over a watermarked stream, drained
    through the production parquet sink.

    The dedup key INCLUDES the watermarked event-time column — that is what
    lets Spark evict per-key state once the watermark passes (keys older
    than watermark − 1h can never produce a duplicate, so their state is
    dropped). Without the time column in the key, dedup state grows without
    bound — the difference between a demo and something that survives an
    unbounded 100 TB stream. Emission is immediate (append-mode dedup emits
    first occurrences as they arrive), so the drained result is exactly
    SELECT DISTINCT over the replayed batch — the oracle.
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.tables import events_stream

    stream = (
        events_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("ts_min"),
        )
        .withWatermark("ts_min", "1 hour")
        .dropDuplicates(["user_id", "event_type", "ts_min"])
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts_min").alias("minute_us"),
        )
    )
    return drain_stream_to_parquet(stream, prefix="q56")


# ---------------------------------------------------------------------------
# q77 — Structured Streaming sliding-window aggregate (production drain)
# ---------------------------------------------------------------------------
@register(
    "q77_streaming_sliding",
    tags=("eventtime", "streaming", "sliding"),
    oracle=f"""
        WITH b AS (
          SELECT epoch_us(ts) - (epoch_us(ts) % {US_30MIN}) AS b_us, value FROM events
        ),
        w AS (
          SELECT b_us AS window_start_us, value FROM b
          UNION ALL
          SELECT b_us - {US_30MIN} AS window_start_us, value FROM b
        )
        SELECT
          window_start_us,
          COUNT(*) AS n_events,
          {sql_dsum('value', 'total_value')}
        FROM w
        GROUP BY window_start_us
        HAVING window_start_us + {US_1H}
               <= (SELECT MAX(epoch_us(ts)) FROM events) - {US_1H}
    """,
)
def q77_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q31 sliding aggregation (1-hour windows, 30-minute slide) as a
    real Structured Streaming query with a 1-hour watermark, drained
    through the production parquet sink — completing the streaming trio
    (q36 tumbling, q37 sessionize, q77 sliding).

    Emission contract is q36's: the single-file input lands in one
    micro-batch, so append mode deterministically emits exactly the
    windows closed by the final watermark — window_end (= start + 1h)
    <= max(ts) - 1h. The oracle is q31's two-starts-per-event expansion
    with that predicate; q31 pins the full batch values. Sliding windows
    multiply state by (length/slide) — here 2× — which the watermark
    bounds the same way it does for tumbling.
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.tables import events_stream

    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
    )
    return drain_stream_to_parquet(stream, prefix="q77")


# ---------------------------------------------------------------------------
# q84 — gaps-and-islands: collapse event runs into SCD2 validity intervals
# ---------------------------------------------------------------------------
@register(
    "q84_state_intervals",
    tags=("eventtime", "islands", "scd2"),
    oracle="""
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          FROM events
        ),
        r AS (
          SELECT *,
                 CASE WHEN event_type = LAG(event_type) OVER (
                        PARTITION BY user_id ORDER BY ts_us, event_id)
                      THEN 0 ELSE 1 END AS chg
          FROM e
        ),
        r2 AS (
          SELECT *,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM r
        ),
        runs AS (
          SELECT user_id, event_type, island,
                 MIN(ts_us) AS valid_from_us,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM r2 GROUP BY 1, 2, 3
        )
        SELECT user_id, event_type, valid_from_us,
               LEAD(valid_from_us) OVER (
                 PARTITION BY user_id ORDER BY valid_from_us, event_type
               ) AS valid_to_us,
               n_events
        FROM runs
    """,
)
def q84_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's consecutive same-event_type
    runs into one row, then stitch SCD2-style [valid_from, valid_to)
    validity intervals (valid_to = next run's start; NULL = current state).

    The island id is a running sum of change flags over ONE (user_id)
    partitioning — the classic two-row_number difference trick needs a
    second shuffle on (user_id, event_type); lag + running sum keeps both
    window functions on the same Exchange+Sort. The interval stitch (lead)
    then runs over the runs-sized relation, not the event stream.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    runs = (
        ev.withColumn(
            "chg",
            F.when(F.col("event_type") == F.lag("event_type").over(w), 0).otherwise(1),
        )
        .withColumn("island", F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts_us").alias("valid_from_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return runs.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us")
        .over(W.partitionBy("user_id").orderBy("valid_from_us", "event_type"))
        .alias("valid_to_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# q85 — event-type transition matrix (first-order Markov over user streams)
# ---------------------------------------------------------------------------
@register(
    "q85_event_transitions",
    tags=("eventtime", "sequence", "markov"),
    oracle="""
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          FROM events
        ),
        p AS (
          SELECT event_type AS from_type,
                 LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                 ) AS to_type
          FROM e
        ),
        c AS (
          SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type)
                 AS share
        FROM c
    """,
)
def q85_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    consecutive event types within each user's stream.

    One (user_id) shuffle for the lead window (pipelined into the
    transition count's map-side partials); the normalizing share window
    runs over the |types|² count relation, not the event stream. The
    share is a ratio of exactly-summed bigints — deterministic, so the
    oracle replays every double bit-exactly.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    counts = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("from_type"))
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# q86 — first-touch attribution (conditional last-non-null window)
# ---------------------------------------------------------------------------
@register(
    "q86_click_attribution",
    tags=("eventtime", "attribution", "window"),
    oracle="""
        WITH e AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
          FROM events
        ),
        attr AS (
          SELECT *,
                 LAST_VALUE(CASE WHEN event_type = 'click' THEN ts_us END
                            IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ) AS click_ts_us
          FROM e
        )
        SELECT event_id, user_id, ts_us, click_ts_us,
               ts_us - click_ts_us AS gap_us
        FROM attr WHERE event_type = 'purchase'
    """,
)
def q86_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each purchase to the same user's most recent PRECEDING
    click (NULL if the user never clicked before buying) — per-event as-of
    within one stream, unlike q33's two-table as-of join.

    The conditional last-non-null window needs no self-join and no second
    relation: one (user_id) shuffle, the CASE projects click timestamps,
    `last(..., ignorenulls)` carries the latest one forward, and the
    purchase filter prunes the output after the window (it cannot be
    pushed below it — earlier clicks must be seen).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "click_ts_us",
            F.last(
                F.when(F.col("event_type") == "click", F.col("ts_us")),
                ignorenulls=True,
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            "click_ts_us",
            (F.col("ts_us") - F.col("click_ts_us")).alias("gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# q87 — growth accounting: daily active / new / returning users
# ---------------------------------------------------------------------------
@register(
    "q87_growth_accounting",
    tags=("eventtime", "growth", "retention"),
    oracle="""
        WITH e AS (
          SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events
        ),
        first_seen AS (
          SELECT user_id, MIN(day) AS first_day FROM e GROUP BY 1
        ),
        daily AS (
          SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
          FROM e GROUP BY 1
        ),
        news AS (
          SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
          FROM first_seen GROUP BY 1
        )
        SELECT d.day, d.n_active,
               COALESCE(n.n_new, 0) AS n_new,
               d.n_active - COALESCE(n.n_new, 0) AS n_returning,
               CAST(SUM(COALESCE(n.n_new, 0)) OVER (
                 ORDER BY d.day ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_users
        FROM daily d LEFT JOIN news n ON d.day = n.day
    """,
)
def q87_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / new / returning user counts plus the cumulative
    registered-user curve — the growth-accounting pass every usage
    pipeline runs.

    Two keyed aggregations over the event stream (first-seen per user,
    distinct-actives per day), then everything else — the new-user count,
    the returning split, the cumulative sum — runs on the days-sized
    relation (broadcast join + a window whose single partition holds
    |days| rows, not events).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").cast("string").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = ev.groupBy("day").agg(F.countDistinct("user_id").alias("n_active"))
    news = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    n_new = F.coalesce(F.col("n_new"), F.lit(0).cast("bigint"))
    return (
        daily.join(F.broadcast(news), "day", "left")
        .select(
            "day",
            "n_active",
            n_new.alias("n_new"),
            (F.col("n_active") - n_new).alias("n_returning"),
            F.sum(n_new)
            .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
            .cast("bigint")
            .alias("cum_users"),
        )
    )


# ---------------------------------------------------------------------------
# q89 — top user journeys (most common first-N event-type paths)
# ---------------------------------------------------------------------------
PATH_LEN = 5
PATH_TOP_K = 20
_PATH_SEP = "\x1f"  # unit separator — cannot appear in event_type (q27 convention)


@register(
    "q89_top_paths",
    tags=("eventtime", "sequence", "paths"),
    oracle=f"""
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          FROM events
        ),
        r AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
          FROM e
        ),
        p AS (
          SELECT user_id,
                 string_agg(event_type, chr(31) ORDER BY rn) AS path
          FROM r WHERE rn <= {PATH_LEN} GROUP BY 1
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM p GROUP BY 1
        ORDER BY n_users DESC, path ASC LIMIT {PATH_TOP_K}
    """,
)
def q89_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {20} most common first-{5}-event journeys (event-type sequences)
    across users — the path-analysis pass behind onboarding funnels.

    Scale shape: row_number + filter bound per-user state to {5} rows
    BEFORE any aggregation buffer exists (WindowGroupLimit prunes
    map-side); the path assembles via collect_list of (rn, type) structs
    sorted IN the aggregation buffer (array_sort — deterministic without
    relying on collect_list order, which Spark does not guarantee); the
    path-frequency relation is paths-sized, and top-K is
    TakeOrderedAndProject.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    paths = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_LEN)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type)"),
                _PATH_SEP,
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
    )


# ---------------------------------------------------------------------------
# q101 — two-sample Kolmogorov–Smirnov drift test (early vs late traffic)
# ---------------------------------------------------------------------------
_KS_SPLIT = "2024-01-16"  # first half vs second half of the event month


@register(
    "q101_ks_drift",
    tags=("eventtime", "drift", "statistics"),
    oracle=f"""
        WITH e AS (
          SELECT event_type, value,
                 CASE WHEN CAST(ts AS DATE) < DATE '{_KS_SPLIT}'
                      THEN 1 ELSE 0 END AS in_a
          FROM events
        ),
        tot AS (
          SELECT event_type,
                 CAST(SUM(in_a) AS BIGINT) AS n_a,
                 CAST(SUM(1 - in_a) AS BIGINT) AS n_b
          FROM e GROUP BY 1
        ),
        cum AS (
          SELECT event_type, value,
                 SUM(in_a) OVER w AS c_a,
                 SUM(1 - in_a) OVER w AS c_b
          FROM e
          WINDOW w AS (PARTITION BY event_type ORDER BY value
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT c.event_type, t.n_a, t.n_b,
               MAX(ABS(CAST(c.c_a AS DOUBLE) / t.n_a
                       - CAST(c.c_b AS DOUBLE) / t.n_b)) AS ks_stat
        FROM cum c JOIN tot t ON c.event_type = t.event_type
        GROUP BY 1, 2, 3
    """,
)
def q101_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per event type between
    first-half and second-half traffic: D = max |ECDF_a(v) − ECDF_b(v)| —
    the standard nonparametric has-the-value-distribution-shifted test.

    Exactness: the RANGE frame makes both cumulative counts include ALL
    rows with value ≤ v regardless of tie order inside the sort, so every
    per-row ECDF difference is a ratio of exact bigints; MAX over doubles
    is order-independent (unlike SUM). One shuffle: the (event_type)
    window sort; the per-type totals join is a |types|-row broadcast.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.col("ts").cast("date") < F.lit(_KS_SPLIT).cast("date"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    tot = ev.groupBy("event_type").agg(
        F.sum("in_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("in_a")).alias("n_b"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("value")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    cum = ev.select(
        "event_type",
        F.sum("in_a").over(w).alias("c_a"),
        F.sum(F.lit(1) - F.col("in_a")).over(w).alias("c_b"),
    )
    d = F.abs(
        F.col("c_a").cast("double") / F.col("n_a")
        - F.col("c_b").cast("double") / F.col("n_b")
    )
    return (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(F.max(d).alias("ks_stat"))
    )


# ---------------------------------------------------------------------------
# q105 — ordered funnel conversion (view → click → purchase, 24h step gaps)
# ---------------------------------------------------------------------------
US_24H = 24 * 60 * 60 * 1_000_000


@register(
    "q105_funnel_steps",
    tags=("eventtime", "funnel", "product-analytics"),
    oracle=f"""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        v AS (
          SELECT user_id, MIN(ts) AS t_v FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, MIN(e.ts) AS t_c
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_v
            AND epoch_us(e.ts) <= epoch_us(v.t_v) + {US_24H}
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, MIN(e.ts) AS t_p
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_c
            AND epoch_us(e.ts) <= epoch_us(c.t_c) + {US_24H}
          GROUP BY e.user_id
        )
        SELECT funnel_step, COUNT(*) AS n_users FROM (
          SELECT u.user_id,
                 CASE WHEN p.user_id IS NOT NULL THEN 3
                      WHEN c.user_id IS NOT NULL THEN 2
                      WHEN v.user_id IS NOT NULL THEN 1
                      ELSE 0 END AS funnel_step
          FROM u
          LEFT JOIN v ON u.user_id = v.user_id
          LEFT JOIN c ON u.user_id = c.user_id
          LEFT JOIN p ON u.user_id = p.user_id
        ) t
        GROUP BY funnel_step
    """,
)
def q105_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: first view, first click strictly after it
    (within 24h), first purchase strictly after that (within 24h); count
    users by the furthest step reached.

    Step k's anchor time depends on step k-1's, so the funnel is k
    sequential aggregate+join rounds — but every round groups AND joins on
    user_id, so after the first shuffle the per-step relations (one row
    per user) are co-partitioned; AQE broadcasts them once they fall
    under the threshold. This is the standard scale plan for ordered
    funnels; collect_list-per-user alternatives blow memory on power
    users at 100 TB.
    """
    events = load_table(spark, sf_dir, "events")

    users = events.select("user_id").distinct()
    v = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_v"))
        # lazy cut (also t_c/t_p below): each step's one-row-per-user
        # relation feeds both the next step and the final readout —
        # uncut, the funnel re-derives the events scan 7x per plan
        .localCheckpoint(eager=False)
    )
    c = (
        events.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t_v"))
            & (F.unix_micros("ts") <= F.unix_micros("t_v") + US_24H)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_c"))
        .localCheckpoint(eager=False)
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t_c"))
            & (F.unix_micros("ts") <= F.unix_micros("t_c") + US_24H)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
        .localCheckpoint(eager=False)
    )
    step = (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            F.when(F.col("t_p").isNotNull(), F.lit(3))
            .when(F.col("t_c").isNotNull(), F.lit(2))
            .when(F.col("t_v").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("funnel_step")
        )
    )
    return step.groupBy("funnel_step").agg(F.count(F.lit(1)).alias("n_users"))


# ---------------------------------------------------------------------------
# q107 — stream-static enrichment join (streaming events ⋈ broadcast dims)
# ---------------------------------------------------------------------------
@register(
    "q107_stream_static_join",
    tags=("streaming", "join", "enrichment"),
    oracle="""
        SELECT e.event_id, e.user_id, c.c_mktsegment AS mktsegment,
               n.n_name AS nation
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q107_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched against static dimension tables — the
    stream-static join class (the one streaming join Spark runs without
    state on the static side).

    The static side (customer ⋈ nation) is a batch relation resolved
    per micro-batch and broadcast: unbounded stream, zero streaming
    state, no watermark needed for correctness (rows enrich
    independently). Drained through the production parquet sink. At
    100 TB/day the static side refreshes by micro-batch re-resolution —
    exactly how Structured Streaming defines stream-static semantics.
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.tables import events_stream, load_table

    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dims = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).select(
        F.col("c_custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("n_name").alias("nation"),
    )

    stream = (
        events_stream(spark, sf_dir)
        .select("event_id", "user_id")
        .join(F.broadcast(dims), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "mktsegment", "nation")
    )
    return drain_stream_to_parquet(stream, prefix="q107")


# ---------------------------------------------------------------------------
# q109 — stream-stream event-time join (watermarked, production drain)
# ---------------------------------------------------------------------------
@register(
    "q109_stream_stream_join",
    tags=("streaming", "join", "stream-stream"),
    oracle=f"""
        SELECT
          c.event_id AS click_id,
          p.event_id AS purchase_id,
          c.user_id,
          epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        FROM events c
        JOIN events p
          ON c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.user_id = c.user_id
         AND p.ts > c.ts
         AND epoch_us(p.ts) <= epoch_us(c.ts) + {US_30MIN}
    """,
)
def q109_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each click matched to the purchases it
    precedes by at most 30 minutes, per user — completing the streaming
    join matrix (q107 covers stream-static).

    Both sides carry 1-hour watermarks and the join condition bounds
    purchase time relative to click time, which is what lets Spark expire
    buffered click state once the purchase-side watermark passes
    click.ts + 30min — bounded state on an unbounded stream. Inner-join
    matches emit as soon as both rows are buffered; the single-file input
    lands in one micro-batch, so the drained result is the complete batch
    join (the oracle). Drains through the production parquet sink.
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.tables import events_stream

    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND p_ts > c_ts "
            "AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    return drain_stream_to_parquet(joined, prefix="q109")


# ---------------------------------------------------------------------------
# q110 — interval overlap join (activity runs of two event types, per user)
# ---------------------------------------------------------------------------
# run gap sized to the test data's event density (30min gives near-zero
# multi-event runs at sf<=0.01, a vacuous overlap check)
_RUN_GAP_US = 12 * 60 * 60 * 1_000_000


@register(
    "q110_interval_overlap_join",
    tags=("eventtime", "interval", "join"),
    oracle=f"""
        WITH runs AS (
          SELECT user_id, event_type, t_us,
                 SUM(new_run) OVER (
                   PARTITION BY user_id, event_type ORDER BY t_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS run_id
          FROM (
            SELECT user_id, event_type, epoch_us(ts) AS t_us,
                   CASE WHEN epoch_us(ts)
                             - LAG(epoch_us(ts)) OVER (
                                 PARTITION BY user_id, event_type ORDER BY ts)
                             >= {_RUN_GAP_US}
                        OR LAG(epoch_us(ts)) OVER (
                             PARTITION BY user_id, event_type ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_run
            FROM events
            WHERE event_type IN ('view', 'click')
          ) t
        ),
        iv AS (
          SELECT user_id, event_type, run_id,
                 MIN(t_us) AS start_us, MAX(t_us) AS end_us
          FROM runs GROUP BY user_id, event_type, run_id
        )
        SELECT
          a.user_id,
          a.start_us AS view_start_us,
          b.start_us AS click_start_us,
          LEAST(a.end_us, b.end_us) - GREATEST(a.start_us, b.start_us) AS overlap_us
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'click'
         AND a.start_us <= b.end_us AND b.start_us <= a.end_us
    """,
)
def q110_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join between two derived interval relations: each
    user's 'view' activity runs joined to their overlapping 'click' runs
    (a run = consecutive same-type events with gaps < 12h).

    Both interval sets are built from ONE pass over events (single
    shuffle on (user, type), gaps-and-islands window, min/max per run).
    The overlap join equi-keys on user_id — per-user interval counts are
    bounded by activity, so the within-key overlap filter is
    output-bounded, unlike a global interval cross-join. For unkeyed
    interval sets the q35 band-bucketing pattern applies instead; this
    operator covers the keyed case every product-analytics stack needs.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click"))
        .select("user_id", "event_type", F.unix_micros("ts").alias("t_us"))
    )
    w = W.partitionBy("user_id", "event_type").orderBy("t_us")
    runs = ev.withColumn(
        "new_run",
        F.when(
            F.lag("t_us").over(w).isNull()
            | (F.col("t_us") - F.lag("t_us").over(w) >= _RUN_GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("new_run").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    iv = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("t_us").alias("start_us"), F.max("t_us").alias("end_us")
    )
    a = iv.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("start_us").alias("a_start"),
        F.col("end_us").alias("a_end"),
    )
    b = iv.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("b_user"),
        F.col("start_us").alias("b_start"),
        F.col("end_us").alias("b_end"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end")),
        )
        .select(
            "user_id",
            F.col("a_start").alias("view_start_us"),
            F.col("b_start").alias("click_start_us"),
            (
                F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
            ).alias("overlap_us"),
        )
    )


# ---------------------------------------------------------------------------
# q115 — time-weighted average value (TWAP) per user per day
# ---------------------------------------------------------------------------
@register(
    "q115_time_weighted_avg",
    tags=("eventtime", "twap", "window_frame"),
    oracle="""
        WITH d AS (
          SELECT user_id,
                 CAST(date_trunc('day', ts) AS DATE) AS day,
                 value,
                 LEAD(epoch_us(ts)) OVER (
                   PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts, event_id
                 ) - epoch_us(ts) AS dt_us
          FROM events
        )
        SELECT
          user_id,
          CAST(day AS VARCHAR) AS day,
          COUNT(*) AS n_intervals,
          CAST(SUM(dt_us) AS BIGINT) AS covered_us,
          CAST(SUM(CAST(round(value * dt_us) AS BIGINT)) AS DOUBLE)
            / CAST(SUM(dt_us) AS DOUBLE) AS twap
        FROM d
        WHERE dt_us IS NOT NULL AND dt_us > 0
        GROUP BY user_id, day
    """,
)
def q115_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user-day: each observation is
    weighted by how long it was the current value (until the next event) —
    the telemetry/finance aggregate a plain AVG gets wrong under uneven
    sampling.

    One window pass (LEAD over the user-day partition — same shuffle as
    the final groupBy, so Catalyst reuses the partitioning) and exact
    arithmetic: each weighted product is quantized to an INTEGER
    (round(value·dt_us), < 2^53 so the double→int conversion is exact and
    identical in both engines), summed exactly, and divided once at the
    end. The DECIMAL(28,6) route mismatches here — engines disagree on
    the last decimal digit when casting large double PRODUCTS, and the
    µs-scaled sums overflow double-exact range on the way back out.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", F.date_trunc("day", "ts")).orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "value",
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
    return d.groupBy("user_id", F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_us").alias("covered_us"),
        (
            F.sum(F.round(F.col("value") * F.col("dt_us")).cast("bigint"))
            .cast("double")
            / F.sum("dt_us").cast("double")
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# q116 — seasonal-baseline anomaly detection (hour-of-day profile, 3σ gate)
# ---------------------------------------------------------------------------
@register(
    "q116_seasonal_anomaly",
    tags=("eventtime", "anomaly", "baseline"),
    oracle="""
        WITH hourly AS (
          SELECT event_type,
                 date_trunc('hour', ts) AS bucket,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ),
        stats AS (
          SELECT event_type,
                 EXTRACT(hour FROM bucket) AS hod,
                 COUNT(*) AS k,
                 CAST(SUM(n) AS BIGINT) AS s1,
                 CAST(SUM(n * n) AS BIGINT) AS s2
          FROM hourly GROUP BY 1, 2
        )
        SELECT
          h.event_type,
          epoch_us(h.bucket) AS bucket_us,
          h.n,
          (h.n - CAST(s.s1 AS DOUBLE) / s.k)
            / sqrt(CAST(s.k * s.s2 - s.s1 * s.s1 AS DOUBLE) / (s.k * s.k)) AS zscore
        FROM hourly h
        JOIN stats s
          ON h.event_type = s.event_type
         AND EXTRACT(hour FROM h.bucket) = s.hod
        WHERE s.k * s.s2 - s.s1 * s.s1 > 0
          AND abs(h.n - CAST(s.s1 AS DOUBLE) / s.k)
              > 3 * sqrt(CAST(s.k * s.s2 - s.s1 * s.s1 AS DOUBLE) / (s.k * s.k))
    """,
)
def q116_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volumes flagged against each event type's hour-of-day
    baseline (|n − mean| > 3σ): 'is 3am traffic weird *for 3am*'.

    The baseline moments are INTEGER sums (Σn, Σn²) so the profile is
    order-independent; mean/σ/z involve only +,−,×,÷,sqrt on identical
    inputs — all correctly-rounded IEEE ops, bit-equal across engines
    (unlike log/exp, whose libm rounding differs). Two hash aggregations
    (hourly, then 24×5-row profile) + a broadcast join back.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy(
        "event_type", F.hour("bucket").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    var_num = F.col("k") * F.col("s2") - F.col("s1") * F.col("s1")
    mean = F.col("s1").cast("double") / F.col("k")
    sigma = F.sqrt(var_num.cast("double") / (F.col("k") * F.col("k")))
    return (
        hourly.join(
            F.broadcast(stats),
            (hourly.event_type == stats.event_type) & (F.hour("bucket") == stats.hod),
        )
        .drop(stats.event_type)
        .where((var_num > 0) & (F.abs(F.col("n") - mean) > 3 * sigma))
        .select(
            "event_type",
            F.unix_micros("bucket").alias("bucket_us"),
            "n",
            ((F.col("n") - mean) / sigma).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# q117 — co-movement matrix: Pearson r between event types' hourly volumes
# ---------------------------------------------------------------------------
@register(
    "q117_comovement_matrix",
    tags=("eventtime", "correlation", "matrix"),
    oracle="""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ),
        grid AS (
          SELECT b.bucket, t.event_type, COALESCE(h.n, 0) AS n
          FROM (SELECT DISTINCT bucket FROM hourly) b
          CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t
          LEFT JOIN hourly h
            ON h.bucket = b.bucket AND h.event_type = t.event_type
        ),
        sums AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 COUNT(*) AS nb,
                 CAST(SUM(a.n) AS BIGINT) AS sx,
                 CAST(SUM(b.n) AS BIGINT) AS sy,
                 CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
                 CAST(SUM(a.n * a.n) AS BIGINT) AS sxx,
                 CAST(SUM(b.n * b.n) AS BIGINT) AS syy
          FROM grid a JOIN grid b
            ON a.bucket = b.bucket AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT type_a, type_b, nb,
               CAST(nb * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(nb * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(nb * syy - sy * sy AS DOUBLE))) AS pearson_r
        FROM sums
        WHERE nb * sxx - sx * sx > 0 AND nb * syy - sy * sy > 0
    """,
)
def q117_comovement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between event types' hourly volume
    series — the drift/co-movement companion to q101's KS test.

    Zero-filled grid (a type silent in some hour must contribute 0, or the
    inner join silently biases r upward), integer moment sums, one final
    double expression of correctly-rounded ops. The pair join equi-keys on
    the hour bucket, so it shuffles the (tiny) hourly relation, never raw
    events; the output is |types|² rows.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    # lazy cut: bucket list, type list, and the grid left-join all consume
    # hourly (audit: 6 event scans/plan uncut)
    buckets = hourly.select("bucket").distinct()
    types = hourly.select("event_type").distinct()
    grid = (
        buckets.crossJoin(F.broadcast(types))
        .join(hourly, ["bucket", "event_type"], "left")
        .select("bucket", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    a = grid.select(
        "bucket", F.col("event_type").alias("type_a"), F.col("n").alias("xa")
    )
    b = grid.select(
        F.col("bucket").alias("bucket_b"),
        F.col("event_type").alias("type_b"),
        F.col("n").alias("xb"),
    )
    sums = (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        )
    )
    vx = F.col("nb") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("nb") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.where((vx > 0) & (vy > 0)).select(
        "type_a",
        "type_b",
        "nb",
        (
            (F.col("nb") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
        ).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# q119 — CUSUM change-point detection over hourly volumes, per event type
# ---------------------------------------------------------------------------
@register(
    "q119_cusum_changepoint",
    tags=("eventtime", "changepoint", "cusum"),
    oracle="""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ),
        cum AS (
          SELECT event_type, bucket, n,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_i,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS i,
                 SUM(n) OVER (PARTITION BY event_type) AS s1,
                 COUNT(*) OVER (PARTITION BY event_type) AS k
          FROM hourly
        ),
        scored AS (
          SELECT event_type, bucket, k,
                 abs(CAST(k * s_i - i * s1 AS BIGINT)) AS stat,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(CAST(k * s_i - i * s1 AS BIGINT)) DESC, bucket
                 ) AS rn
          FROM cum
        )
        SELECT event_type,
               epoch_us(bucket) AS change_bucket_us,
               CAST(stat AS DOUBLE) / k AS cusum_stat,
               CAST(k AS BIGINT) AS n_buckets
        FROM scored WHERE rn = 1
    """,
)
def q119_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detector: for each event type, the hour where the
    cumulative deviation from the series mean peaks — the standard 'when
    did the level shift' scan.

    The statistic is kept scaled-integer (k·S_i − i·Σn) so the argmax is
    exact; one double division at the end. All windows partition by
    event_type over the (tiny) hourly relation — per-key series length is
    bounded, so no single-partition risk at scale. Ties break to the
    earliest bucket, making the result total-order deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = W.partitionBy("event_type")
    wo = wt.orderBy("bucket")
    cum = hourly.select(
        "event_type",
        "bucket",
        F.sum("n").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("s_i"),
        F.row_number().over(wo).alias("i"),
        F.sum("n").over(wt).alias("s1"),
        F.count(F.lit(1)).over(wt).alias("k"),
    )
    scored = cum.select(
        "event_type",
        "bucket",
        "k",
        F.abs(F.col("k") * F.col("s_i") - F.col("i") * F.col("s1")).alias("stat"),
    ).withColumn(
        "rn",
        F.row_number().over(wt.orderBy(F.col("stat").desc(), F.col("bucket"))),
    )
    return scored.where(F.col("rn") == 1).select(
        "event_type",
        F.unix_micros("bucket").alias("change_bucket_us"),
        (F.col("stat").cast("double") / F.col("k")).alias("cusum_stat"),
        F.col("k").cast("bigint").alias("n_buckets"),
    )


# ---------------------------------------------------------------------------
# q151 — custom stateful streaming counter (stateful-processor class)
# ---------------------------------------------------------------------------
@register(
    "q151_stateful_counter",
    tags=("streaming", "stateful", "counter"),
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM events
        GROUP BY user_id
    """,
)
def q151_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals as a custom stateful streaming operator —
    applyInPandasWithState over two integers of state per user
    (`streaming/stateful.py::running_counter_stream`).

    Cents are integer-quantized exactly like q115, so totals are
    order-independent and exact. The single-file input lands in one
    micro-batch, so each user emits exactly one snapshot == its batch
    aggregate, which is what the oracle computes. Drains through the
    production parquet sink (streaming/jobs.py).
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.streaming.stateful import running_counter_stream
    from docling_api_spark.tables import events_stream

    ev = events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return drain_stream_to_parquet(
        running_counter_stream(ev), prefix="q151_counter"
    )


# ---------------------------------------------------------------------------
# q137 — streaming upsert snapshot via foreachBatch (merge-on-read sink)
# ---------------------------------------------------------------------------
@register(
    "q137_streaming_upsert",
    tags=("streaming", "upsert", "foreachBatch"),
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM events
        GROUP BY user_id
    """,
)
def q137_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed aggregate drained through a foreachBatch UPSERT
    sink — the sink pattern the parquet append sink can't express
    (update-mode aggregates), completing the engine's streaming sink
    matrix: append file sink (q36/q77/q107/q109), stateful append
    (q37/q56), and now update-mode merge-on-read upsert.

    Each micro-batch appends its changed per-user rows stamped with the
    batch id; the snapshot read resolves latest-batch-wins per key. The
    single-file input lands in one micro-batch, so the snapshot equals
    the batch aggregate — the oracle. Cents are integer-quantized as in
    q115/q133.
    """
    from docling_api_spark.streaming.jobs import drain_stream_upsert
    from docling_api_spark.tables import events_stream

    agg = (
        events_stream(spark, sf_dir)
        .select("user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
    )
    return drain_stream_upsert(agg, keys=["user_id"], prefix="q137")


# ---------------------------------------------------------------------------
# q138 — SCD2 point-in-time join (facts probed against validity intervals)
# ---------------------------------------------------------------------------
@register(
    "q138_scd2_point_in_time",
    tags=("scd2", "interval", "join"),
    oracle="""
        WITH s AS (
          SELECT user_id, epoch_us(ts) AS t, event_id, event_type
          FROM events WHERE event_type <> 'purchase'
        ),
        r AS (
          SELECT user_id, t, event_id, event_type,
                 CASE WHEN LAG(event_type) OVER (
                        PARTITION BY user_id ORDER BY t, event_id)
                      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS brk
          FROM s
        ),
        runs AS (
          SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY t, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
          FROM r
        ),
        iv AS (
          SELECT user_id, event_type AS state, MIN(t) AS valid_from_us,
                 LEAD(MIN(t)) OVER (
                   PARTITION BY user_id ORDER BY MIN(t)) AS valid_to_us
          FROM runs GROUP BY user_id, event_type, rid
        ),
        p AS (
          SELECT event_id, user_id, epoch_us(ts) AS t
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id AS purchase_id, p.user_id, iv.state,
               iv.valid_from_us AS state_start_us
        FROM p JOIN iv
          ON p.user_id = iv.user_id
         AND p.t >= iv.valid_from_us
         AND (iv.valid_to_us IS NULL OR p.t < iv.valid_to_us)
    """,
)
def q138_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each purchase matched to the user
    state interval that was valid when it happened — the SCD2 probe every
    warehouse runs against dimension history (q84 builds such intervals;
    this operator consumes them).

    Interval construction is ONE shuffle on user_id (lag + running-sum
    runs, LEAD-stitched [valid_from, valid_to)); the probe equi-keys on
    user_id and applies the containment predicate inside the key — since
    a user's intervals partition their timeline, each fact matches at
    most one, so the join is output-bounded (≤ one row per purchase),
    never an interval cross product.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") != "purchase").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id", "event_type"
    )
    wu = W.partitionBy("user_id").orderBy("t", "event_id")
    r = s.withColumn(
        "brk",
        F.when(
            ~F.lag("event_type").over(wu).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    ).withColumn(
        "rid", F.sum("brk").over(wu.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    iv = (
        r.groupBy("user_id", F.col("event_type").alias("state"), "rid")
        .agg(F.min("t").alias("valid_from_us"))
        .withColumn(
            "valid_to_us",
            F.lead("valid_from_us").over(
                W.partitionBy("user_id").orderBy("valid_from_us")
            ),
        )
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("t"),
    )
    return (
        p.join(
            iv,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("t") >= F.col("valid_from_us"))
            & (F.col("valid_to_us").isNull() | (F.col("t") < F.col("valid_to_us"))),
        )
        .select(
            "purchase_id",
            "user_id",
            "state",
            F.col("valid_from_us").alias("state_start_us"),
        )
    )


# ---------------------------------------------------------------------------
# q142 — sessionized bounce rate per day
# ---------------------------------------------------------------------------
@register(
    "q142_bounce_rate",
    tags=("eventtime", "session", "kpi"),
    oracle=f"""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS t_us,
                 CASE WHEN LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts) IS NULL
                      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts) >= {US_30MIN}
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
        ),
        s AS (
          SELECT user_id, t_us,
                 SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY t_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM e
        ),
        sess AS (
          SELECT user_id, sess_id,
                 MIN(t_us) AS start_us, COUNT(*) AS n_events
          FROM s GROUP BY user_id, sess_id
        )
        SELECT
          CAST(CAST(to_timestamp(start_us / 1000000) AS DATE) AS VARCHAR) AS day,
          COUNT(*) AS n_sessions,
          CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_bounces,
          CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS bounce_rate
        FROM sess
        GROUP BY 1
    """,
)
def q142_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min gap rule, q32
    semantics) containing exactly one event, keyed by session start day
    — the canonical engagement KPI on top of the sessionizer.

    Same single user-keyed shuffle as q32 (islands via lag + running
    sum), then a day-keyed rollup of the sessions-sized relation.
    Counts are integers; the rate is one closing double division.
    """
    ev = load_table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("t_us")
    e = ev.select("user_id", F.unix_micros("ts").alias("t_us")).withColumn(
        "new_sess",
        F.when(
            F.lag("t_us").over(wu).isNull()
            | (F.col("t_us") - F.lag("t_us").over(wu) >= US_30MIN),
            1,
        ).otherwise(0),
    )
    s = e.withColumn(
        "sess_id",
        F.sum("new_sess").over(wu.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sess = s.groupBy("user_id", "sess_id").agg(
        F.min("t_us").alias("start_us"), F.count(F.lit(1)).alias("n_events")
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sess.groupBy(
            F.timestamp_micros(F.col("start_us"))
            .cast("date")
            .cast("string")
            .alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounces.cast("bigint").alias("n_bounces"),
            (bounces.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q157 — OHLC bars (open-high-low-close candles per event type per day)
# ---------------------------------------------------------------------------
@register(
    "q157_ohlc_bars",
    tags=("eventtime", "ohlc", "finance"),
    bench=True,
    oracle="""
        WITH e AS (
          SELECT event_type,
                 CAST(date_trunc('day', ts) AS DATE) AS day,
                 value, ts, event_id
          FROM events
        ),
        r AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY ts, event_id) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM e
        )
        SELECT event_type,
               CAST(day AS VARCHAR) AS day,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
               COUNT(*) AS n_events
        FROM r
        GROUP BY event_type, day
    """,
)
def q157_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles per event type — the time-series bar aggregation
    every metrics/finance stack needs (first/last are ORDER-dependent, so
    a plain groupBy can't express them).

    Open/close come from row_number windows with a full deterministic
    ordering (ts, event_id — ties across users are broken by the unique
    id, so the result is engine- and partition-independent), folded into
    the same hash aggregation as high/low/count. Both windows share one
    (event_type, day) shuffle; work per group is O(n log n) locally,
    nothing global. At 100 TB: identical plan, partitioned by the bar key.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "value",
        "ts",
        "event_id",
    )
    wa = W.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("event_type", F.col("day").cast("string").alias("day")).agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q161 — Theil–Sen robust trend per event type (median of pairwise slopes)
# ---------------------------------------------------------------------------
@register(
    "q161_theil_sen_trend",
    tags=("timeseries", "robust-stats", "trend"),
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_trunc('day', ts) AS DATE) AS d,
                 CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS m
          FROM events GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.event_type,
                 (b.m - a.m) / date_diff('day', a.d, b.d) AS slope
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.d < b.d
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               quantile_cont(slope, 0.5) AS theil_sen_slope
        FROM pairs GROUP BY event_type
    """,
)
def q161_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope estimator per event type: the median of all
    pairwise day-mean slopes — the robust alternative to q127's
    least-squares trend (one wild day cannot move it).

    The O(n²) pair space is bounded by the CALENDAR, not the data: facts
    reduce to per-(type, day) exact means first (decimal sum / count, one
    keyed agg), so the self-join explodes days² per type (~60 days → ~2k
    pairs), and the median runs inside a per-type hash-aggregate buffer
    of that bounded size. Slopes divide identically-computed doubles by
    integer day gaps; Spark `percentile` ≡ DuckDB `quantile_cont` on the
    same operand multiset (q135's precedent).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.m") - F.col("a.m"))
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope"),
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# q168 — eventually-follows precedence matrix (process mining)
# ---------------------------------------------------------------------------
@register(
    "q168_eventually_follows",
    tags=("process-mining", "eventtime", "join"),
    oracle="""
        WITH f AS (
          SELECT user_id, event_type, MIN(ts) AS fts
          FROM events GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.event_type AS from_type, b.event_type AS to_type,
                 CAST(COUNT(*) AS BIGINT) AS n_both,
                 CAST(SUM(CASE WHEN a.fts < b.fts THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ordered
          FROM f a JOIN f b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT from_type, to_type, n_both, n_ordered,
               CAST(n_ordered AS DOUBLE) / n_both AS precedence_share
        FROM pairs
    """,
)
def q168_eventually_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining precedence matrix: for each unordered event-type
    pair, how many users saw both, and in what fraction the first
    occurrence of the alphabetically-smaller type strictly preceded the
    other — the eventually-follows relation that discovers process order
    (q85's directly-follows matrix only sees ADJACENT steps).

    Facts reduce to the per-(user, type) first-occurrence relation (one
    keyed agg, ≤ |types| rows per user), so the self-join explodes
    types²/2 per user — bounded by the type taxonomy, not the stream
    length — and co-partitions on user_id (one shuffle, AQE-managed).
    Counts are exact bigints; the share is one closing division.
    """
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("fts"))
    a = f.alias("a")
    b = f.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).groupBy(
        F.col("a.event_type").alias("from_type"),
        F.col("b.event_type").alias("to_type"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both"),
        F.sum(F.when(F.col("a.fts") < F.col("b.fts"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ordered"),
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n_both",
        "n_ordered",
        (F.col("n_ordered").cast("double") / F.col("n_both")).alias(
            "precedence_share"
        ),
    )


# ---------------------------------------------------------------------------
# q171 — mergeable HLL sketch rollup (hour sketches → day union → estimate)
# ---------------------------------------------------------------------------
@register(
    "q171_hll_rollup",
    tags=("sketch", "distinct", "rollup"),
    oracle=None,  # Datasketches HLL binaries have no DuckDB twin; the
    # hour→day merge is tolerance-pinned against exact distincts in
    # tests/test_round4b_ops.py
)
def q171_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting: per-hour HLL sketches of active
    users, merged (not recounted) into per-day estimates — THE 100 TB
    pattern for distinct metrics, because the hourly sketch table is tiny
    and any coarser rollup (day, week, campaign) is a cheap sketch union
    instead of a full rescan of the raw stream.

    `hll_sketch_agg` builds Datasketches HLL per (day, hour) group with
    map-side partial aggregation; `hll_union_agg` merges the 24 hour
    sketches per day. Exactness is the declared trade: the estimate is
    within the sketch's published error (lgK=12 → ~1.6% at 1σ), pinned
    against the exact per-day distinct in tests. Rows-only for the
    driver: sketch binaries are engine-specific by design.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.hour("ts").alias("hour"),
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    return (
        hourly.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hour_sketches"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("bigint")
            .alias("est_users"),
        )
    )


# ---------------------------------------------------------------------------
# q172 — salted replicated-dim join (skew-proof fact⋈dim execution)
# ---------------------------------------------------------------------------
SALT_N = 8  # salt fanout for the hot build side


@register(
    "q172_salted_join",
    tags=("skew", "join", "execution"),
    oracle=f"""
        SELECT s.s_suppkey, s.s_name,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               {sql_dsum('l.l_extendedprice', 'total_revenue')}
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
    """,
)
def q172_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact⋈dim join by explicit salting: the dim side is
    replicated SALT_N× (one copy per salt), the fact side picks a
    deterministic salt per row, and the join key becomes (suppkey, salt)
    — so a pathologically hot supplier spreads over SALT_N reducers
    instead of melting one. q167 PLANS the fanout; this operator is the
    execution pattern it feeds, and the oracle is simply the unsalted
    join (salting must be semantically invisible).

    The salt is xxhash64-derived from the fact's line identity (uniform,
    deterministic, engine-independent-irrelevant: it never reaches the
    output). The post-join aggregate keys on the REAL supplier key, so
    partial aggregation collapses the salt fanout map-side. At the test
    scale the dim broadcasts anyway; the pattern matters when the dim is
    too big to broadcast and the shuffle join would see the hot key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    salted_dim = sup.select(
        "s_suppkey",
        "s_name",
        F.explode(F.expr(f"sequence(0, {SALT_N - 1})")).alias("salt"),
    )
    salted_fact = li.select(
        "l_suppkey",
        "l_extendedprice",
        F.pmod(
            F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber")), F.lit(SALT_N)
        )
        .cast("int")
        .alias("salt"),
    )
    joined = salted_fact.hint("shuffle_hash").join(
        salted_dim,
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (salted_fact.salt == salted_dim.salt),
    )
    return joined.groupBy("s_suppkey", "s_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        dsum("l_extendedprice", "total_revenue"),
    )


# ---------------------------------------------------------------------------
# q175 — per-key debounce (partition-scan mapInPandas operator)
# ---------------------------------------------------------------------------
DEBOUNCE_S = 1800  # min seconds between KEPT events per user


@register(
    "q175_debounce",
    tags=("eventtime", "stateful", "pandas"),
    # Hash-graded since r10 (rows-only r4-r9): the sequential
    # previous-KEPT-row dependency has no window form, but a RECURSIVE
    # CTE replays it exactly — the anchor keeps each user's first event
    # (rn = 1 in (ts, event_id) order), each step keeps the next event
    # whose gap from the last KEPT one clears DEBOUNCE_S (NOT EXISTS
    # picks the lowest qualifying rn; rn order is time order, so that is
    # the scan the mapInPandas pass makes). Recursion depth = max kept
    # events per user (~64 at sf0.01, 1.3s in DuckDB); bit-equality with
    # the Spark operator verified at sf0.001 AND sf0.01 at build time,
    # brute-force pin stays in tests/test_round4b_ops.py.
    # Scale check (r10 advisor worried the NOT EXISTS step is
    # O(kept x rows-per-user^2) worst case): measured r11, DuckDB
    # decorrelates it — sf0.01 1.1s -> sf0.1 3.3s, sublinear in data;
    # the suggested correlated-MIN rewrite (e.rn = (SELECT MIN(e2.rn)
    # ...)) was A/B'd bit-equal at both scales and slightly SLOWER
    # (1.25s / 3.5s), so the NOT EXISTS form stays.
    oracle=f"""
        WITH RECURSIVE ev AS (
          SELECT user_id, event_id, event_type,
                 epoch_ns(ts) // 1000 AS ts_us, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS rn
          FROM events
        ),
        kept AS (
          SELECT user_id, event_id, event_type, ts_us, value, rn
          FROM ev WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.event_id, e.event_type, e.ts_us, e.value,
                 e.rn
          FROM kept k
          JOIN ev e ON e.user_id = k.user_id AND e.rn > k.rn
                   AND e.ts_us - k.ts_us >= {DEBOUNCE_S * 1_000_000}
          WHERE NOT EXISTS (
            SELECT 1 FROM ev e2
            WHERE e2.user_id = k.user_id AND e2.rn > k.rn
              AND e2.ts_us - k.ts_us >= {DEBOUNCE_S * 1_000_000}
              AND e2.rn < e.rn
          )
        )
        SELECT user_id, event_id, event_type, ts_us, value FROM kept
    """,
)
def q175_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce/throttle per user: keep an event only if it is at least
    DEBOUNCE_S seconds after the last KEPT event — the dedup rule for
    retriggering alerts, notification fatigue caps, and sensor chatter.

    This is the one operator family where a window genuinely cannot
    express the semantics: the reference point is the previous *kept*
    row, a sequential dependency (q32's gap-sessionize compares against
    the previous row regardless of keep status) — hash-graded since r10
    via a recursive-CTE oracle replay (see the register block), after
    five rounds as rows-only. Through round 8 it ran
    as per-user `applyInPandas`; that pays the Arrow/Python round-trip
    PER GROUP — 1.5k calls at sf0.1, billions of tiny calls at user
    scale. Since r9 it is ONE `mapInPandas` over user-co-located
    partitions sorted by (ts, event_id): a global time sort within the
    partition preserves every user's event order, so a single linear
    scan with a {user -> last kept ts} dict debounces all users of the
    partition across Arrow batch boundaries — same one shuffle, a
    constant number of Python calls per partition instead of one per
    user (measured 4.9s -> ~0.6s at sf0.1). State stays
    O(users-per-shard) and the partition sort O(rows-per-shard); both
    are sized by ONE knob — `spark.sql.shuffle.partitions`, which
    `repartition("user_id")` uses as its shard count. At 100 TB raise
    it so users-per-shard x ~100B dict entries fits executor memory
    (e.g. 1B users / 20k shards = 50k users x 100B = 5 MB state per
    shard); no skew beyond the hottest single user. Timestamps emit as
    epoch micros (bigint), never raw timestamps.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )

    schema = (
        "user_id long, event_id long, event_type string, "
        "ts_us long, value double"
    )

    def debounce(batches):
        gap = DEBOUNCE_S * 1_000_000
        last: dict = {}  # user_id -> ts_us of the last KEPT event
        for pdf in batches:
            # pin the unit before the integer view: Arrow may hand the
            # column over as datetime64[us] or [ns] depending on pandas
            ts_us = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
            ).to_numpy()
            users = pdf["user_id"].to_numpy()
            keep = [False] * len(pdf)
            for i in range(len(pdf)):
                u = users[i]
                t = ts_us[i]
                lu = last.get(u)
                if lu is None or t - lu >= gap:
                    keep[i] = True
                    last[u] = t
            out = pdf.loc[keep].copy()
            out["ts_us"] = ts_us[keep]
            yield out[["user_id", "event_id", "event_type", "ts_us", "value"]]

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("ts", "event_id")
        .mapInPandas(debounce, schema=schema)
    )


# ---------------------------------------------------------------------------
# q180 — SPC control chart (3σ gate + runs-of-R same-side rule)
# ---------------------------------------------------------------------------
SPC_RUN = 6  # Western-Electric-style run length: R consecutive same-side points


@register(
    "q180_control_chart",
    tags=("quality", "spc", "window"),
    oracle=f"""
        WITH d AS (
          SELECT event_type,
                 CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS m
          FROM events GROUP BY 1, 2
        ),
        stats AS (
          SELECT event_type,
                 CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mu,
                 COUNT(*) AS n_days,
                 sqrt(
                   (COUNT(*) * CAST(SUM(CAST(m * m AS DECIMAL(28,6))) AS DOUBLE)
                    - CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE)
                      * CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE))
                   / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1))
                 ) AS sigma
          FROM d GROUP BY event_type
        ),
        pts AS (
          SELECT d.event_type, d.day, d.m, s.mu, s.sigma,
                 CASE WHEN d.m > s.mu THEN 1 ELSE -1 END AS side,
                 CASE WHEN abs(d.m - s.mu) > 3 * s.sigma THEN 1 ELSE 0 END
                   AS beyond_3s
          FROM d JOIN stats s ON d.event_type = s.event_type
        ),
        runs AS (
          SELECT *,
                 CAST(SUM(CASE WHEN side <> prev_side THEN 1 ELSE 0 END)
                   OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS run_id
          FROM (
            SELECT *, LAG(side, 1, 0) OVER (
                     PARTITION BY event_type ORDER BY day) AS prev_side
            FROM pts
          ) t
        ),
        run_len AS (
          SELECT event_type, run_id, side,
                 CAST(COUNT(*) AS BIGINT) AS len
          FROM runs GROUP BY 1, 2, 3
        )
        SELECT r.event_type,
               strftime(r.day, '%Y-%m-%d') AS day,
               r.m AS day_mean, r.mu, r.sigma,
               CAST(r.beyond_3s AS BIGINT) AS rule1_beyond_3sigma,
               CAST(CASE WHEN l.len >= {SPC_RUN} THEN 1 ELSE 0 END AS BIGINT)
                 AS rule2_long_run
        FROM runs r JOIN run_len l
          ON r.event_type = l.event_type AND r.run_id = l.run_id
        WHERE r.beyond_3s = 1 OR l.len >= {SPC_RUN}
    """,
)
def q180_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control chart over daily means per event type:
    flag days beyond μ±3σ (rule 1) and days inside a run of SPC_RUN+
    consecutive same-side points (rule 2, the Western Electric drift
    signal that catches shifts too small for the 3σ gate).

    Facts reduce once to the calendar-bounded daily-mean relation;
    control limits are per-type scalar moments (decimal-exact sums, one
    closing sqrt); the runs rule is the gaps-and-islands idiom (lag →
    side-change cumsum → run lengths) on the same tiny relation. All
    windows partition by event type over calendar-sized partitions.
    """
    ev = load_table(spark, sf_dir, "events")
    # lazy cut: the control limits and the runs-rule windows both consume
    # the calendar-sized daily-mean relation (uncut: 4 fact scans/plan)
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    ).localCheckpoint(eager=False)
    stats = d.groupBy("event_type").agg(
        (
            F.sum(F.col("m").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
        F.sqrt(
            (
                F.count(F.lit(1))
                * F.sum((F.col("m") * F.col("m")).cast("decimal(28,6)")).cast(
                    "double"
                )
                - F.sum(F.col("m").cast("decimal(28,6)")).cast("double")
                * F.sum(F.col("m").cast("decimal(28,6)")).cast("double")
            )
            / (
                F.count(F.lit(1)).cast("double")
                * (F.count(F.lit(1)) - 1)
            )
        ).alias("sigma"),
    )
    pts = d.join(F.broadcast(stats.drop("n_days")), "event_type").select(
        "event_type",
        "day",
        "m",
        "mu",
        "sigma",
        F.when(F.col("m") > F.col("mu"), 1).otherwise(-1).alias("side"),
        F.when(
            F.abs(F.col("m") - F.col("mu")) > 3 * F.col("sigma"), 1
        )
        .otherwise(0)
        .alias("beyond_3s"),
    )
    wt = W.partitionBy("event_type").orderBy("day")
    runs = pts.withColumn(
        "prev_side", F.lag("side", 1, 0).over(wt)
    ).withColumn(
        "run_id",
        F.sum(
            F.when(F.col("side") != F.col("prev_side"), 1).otherwise(0)
        )
        .over(wt.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint"),
    )
    run_len = runs.groupBy("event_type", "run_id", "side").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return (
        runs.join(run_len.drop("side"), ["event_type", "run_id"])
        .where((F.col("beyond_3s") == 1) | (F.col("len") >= SPC_RUN))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("m").alias("day_mean"),
            "mu",
            "sigma",
            F.col("beyond_3s").cast("bigint").alias("rule1_beyond_3sigma"),
            F.when(F.col("len") >= SPC_RUN, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("rule2_long_run"),
        )
    )


# ---------------------------------------------------------------------------
# q183 — streaming top-k: windowed revenue leaders drained then ranked
# ---------------------------------------------------------------------------
TOPK_STREAM_K = 3


@register(
    "q183_streaming_topk",
    tags=("eventtime", "streaming", "topk"),
    oracle=f"""
        WITH agg AS (
          SELECT
            epoch_us(date_trunc('hour', ts)) AS window_start_us,
            event_type,
            COUNT(*) AS n_events,
            {sql_dsum('value', 'total_value')}
          FROM events
          GROUP BY 1, 2
          HAVING epoch_us(date_trunc('hour', MIN(ts))) + {US_1H}
                 <= (SELECT MAX(epoch_us(ts)) FROM events) - {US_1H}
        )
        SELECT window_start_us, event_type, n_events, total_value,
               CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY window_start_us
                   ORDER BY total_value DESC, event_type) AS rk
          FROM agg
        ) t WHERE rk <= {TOPK_STREAM_K}
    """,
)
def q183_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: the watermarked 1-hour windowed revenue
    aggregate (q36's production drain) topped with a per-window rank —
    the top-K event types per closed window, the dashboard read every
    streaming pipeline ends in.

    Honest split of labor: the STREAM maintains only the windowed
    aggregate (bounded state, append-mode emission on watermark close);
    the rank runs on the drained snapshot, because append-mode streaming
    cannot re-rank rows it already emitted. At scale the snapshot is
    windows × types (tiny), so the serving-side window is trivial while
    state and shuffle stay on the aggregate. Emission contract and
    oracle predicate are exactly q36's.
    """
    from docling_api_spark.streaming.jobs import drain_stream_to_parquet
    from docling_api_spark.tables import events_stream

    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    snap = drain_stream_to_parquet(stream, prefix="q183")
    wr = W.partitionBy("window_start_us").orderBy(
        F.desc("total_value"), F.asc("event_type")
    )
    return (
        snap.withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rk") <= TOPK_STREAM_K)
    )


# ---------------------------------------------------------------------------
# q184 — survival analysis: Nelson–Aalen cumulative churn hazard
# ---------------------------------------------------------------------------
CHURN_GAP_DAYS = 30  # last order this far before dataset end ⇒ churned


@register(
    "q184_survival_hazard",
    tags=("survival", "churn", "window"),
    oracle=f"""
        WITH life AS (
          SELECT o_custkey,
                 date_diff('day', CAST(MIN(o_orderdate) AS DATE),
                                  CAST(MAX(o_orderdate) AS DATE)) AS dur,
                 CASE WHEN CAST(MAX(o_orderdate) AS DATE)
                           < (SELECT CAST(MAX(o_orderdate) AS DATE)
                              FROM orders) - {CHURN_GAP_DAYS}
                      THEN 1 ELSE 0 END AS churned
          FROM orders GROUP BY o_custkey
        ),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM life),
        d AS (
          SELECT dur,
                 CAST(SUM(churned) AS BIGINT) AS d_events,
                 CAST(COUNT(*) AS BIGINT) AS leaving
          FROM life GROUP BY dur
        ),
        r AS (
          SELECT d.dur, d.d_events,
                 t.n_total
                 - CAST(COALESCE(SUM(d.leaving) OVER (ORDER BY d.dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_at_risk
          FROM d, t
        ),
        h AS (
          SELECT dur, d_events, n_at_risk,
                 CAST(round(CAST(d_events AS DOUBLE) / n_at_risk * 1000000000)
                      AS BIGINT) AS hz_ppb
          FROM r WHERE d_events > 0
        )
        SELECT dur AS duration_days, d_events, n_at_risk,
               CAST(hz_ppb AS DOUBLE) / 1000000000 AS hazard,
               CAST(CAST(SUM(hz_ppb) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS DOUBLE) / 1000000000 AS cum_hazard
        FROM h
    """,
)
def q184_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard of customer churn: per distinct
    lifetime length (days between first and last order), the number
    still at risk, the churn events at that length (censored customers —
    still active near the dataset end — leave the risk set without an
    event), and the running Σ d/n hazard curve.

    The survival machinery lives entirely on the CALENDAR-bounded
    duration relation: one keyed aggregation to per-customer lifetimes,
    one grouping to ≤ max-duration rows, and cumulative windows over
    that tiny relation. Cumulative hazard intentionally replaces the
    Kaplan–Meier product (Π(1−d/n) needs exp/ln or a running product);
    per-step hazards quantize to integer 1e-9 units before the running
    sum because even a cumulative double window is association-order
    dependent across engines (segment-tree vs row-at-a-time summation).
    H(t) ≈ −ln S(t).
    """
    orders = load_table(spark, sf_dir, "orders")
    gmax = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("dmax"))
    life = (
        orders.crossJoin(F.broadcast(gmax))
        .groupBy("o_custkey", "dmax")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("dur"),
            F.when(
                F.max(F.col("o_orderdate").cast("date"))
                < F.date_sub(F.max("dmax"), CHURN_GAP_DAYS),
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
        # lazy cut: the population total and the per-duration event table
        # both consume the customer-lifetime relation (4 scans/plan uncut)
        .localCheckpoint(eager=False)
    )
    t = life.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    d = life.groupBy("dur").agg(
        F.sum("churned").cast("bigint").alias("d_events"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    wd = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    r = d.crossJoin(F.broadcast(t)).select(
        "dur",
        "d_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(wd), F.lit(0))
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    # per-step hazards quantize to integer 1e-9 units BEFORE the running
    # sum: a cumulative window over raw doubles is association-order
    # dependent (DuckDB sums windows via a segment tree, Spark row-by-row)
    h = r.where(F.col("d_events") > 0).select(
        "dur",
        "d_events",
        "n_at_risk",
        F.round(F.col("d_events").cast("double") / F.col("n_at_risk") * 1e9)
        .cast("bigint")
        .alias("hz_ppb"),
    )
    wh = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    return h.select(
        F.col("dur").alias("duration_days"),
        "d_events",
        "n_at_risk",
        (F.col("hz_ppb").cast("double") / 1e9).alias("hazard"),
        (F.sum("hz_ppb").over(wh).cast("bigint").cast("double") / 1e9).alias(
            "cum_hazard"
        ),
    )


# ---------------------------------------------------------------------------
# q187 — EWMA smoothing (alpha=1/2, bounded horizon, integer-exact weights)
# ---------------------------------------------------------------------------
EWMA_H = 16  # newest EWMA_H orders per customer enter the average


@register(
    "q187_ewma_smoothing",
    tags=("timeseries", "smoothing", "window"),
    oracle=f"""
        WITH ranked AS (
          SELECT o_custkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC,
                                             o_orderkey DESC) AS rn
          FROM orders
        ),
        recent AS (SELECT * FROM ranked WHERE rn <= {EWMA_H})
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_used,
               CAST(SUM(cents * (CAST(1 AS BIGINT) << ({EWMA_H} - rn)))
                    AS DOUBLE)
                 / CAST(SUM(CAST(1 AS BIGINT) << ({EWMA_H} - rn)) AS DOUBLE)
                 AS ewma_cents
        FROM recent GROUP BY o_custkey
    """,
)
def q187_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each customer's order
    value (adjusted form, alpha = 1/2) over their newest EWMA_H orders —
    the demand-smoothing primitive behind reorder forecasts.

    Exactness: prices quantize to integer cents; the alpha=1/2 weight
    ladder is a power-of-two BIGINT shift (newest order weighs 2^15,
    k-th newest 2^(15-k)), so numerator and denominator are exact
    integers below 2^53 and the single closing division is the only
    float op — bit-identical across engines and partitionings. The
    horizon bound is what keeps the integer ladder in range AND what
    makes the window cheap: one row_number window per customer
    partition, one hash aggregation, no self-join. At 100 TB the
    orders shuffle on o_custkey once and the window never spills (a
    customer has bounded orders)."""
    o = load_table(spark, sf_dir, "orders")
    wc = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    recent = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.row_number().over(wc).alias("rn"),
        )
        .where(F.col("rn") <= EWMA_H)
        .withColumn(
            "w", F.expr(f"shiftleft(cast(1 as bigint), {EWMA_H} - rn)")
        )
    )
    return recent.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        (
            F.sum(F.col("cents") * F.col("w")).cast("double")
            / F.sum("w").cast("double")
        ).alias("ewma_cents"),
    )


# ---------------------------------------------------------------------------
# q188 — lag-1 autocorrelation of daily revenue per nation (exact moments)
# ---------------------------------------------------------------------------
@register(
    "q188_lag1_autocorr",
    tags=("timeseries", "stats", "autocorrelation"),
    oracle="""
        WITH daily AS (
          SELECT n_name, CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT n_name, cents AS y,
                 LAG(cents) OVER (PARTITION BY n_name ORDER BY day) AS x
          FROM daily
        ),
        m AS (
          SELECT n_name,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))
                          * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))
                          * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(y AS DECIMAL(38,0))
                          * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS syy
          FROM pairs WHERE x IS NOT NULL
          GROUP BY n_name HAVING COUNT(*) >= 3
        )
        SELECT n_name,
               CAST(n AS BIGINT) AS n_pairs,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 AS lag1_autocorr
        FROM m
    """,
)
def q188_lag1_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each nation's daily revenue series — the
    day-to-day persistence signal a demand planner checks before trusting
    any smoothing model (q187) or seasonal-naive forecast (q192).

    The facts reduce ONCE to a calendar-bounded daily relation (the only
    fact-sized shuffle; nation and customer are broadcast dims), the
    lag pairs come from one window per nation over that tiny relation,
    and the Pearson r over (x_t, x_{t-1}) pairs is assembled from
    DECIMAL(38,0)-exact moment sums with the identical closing double
    expression on both engines — no float accumulation anywhere, so the
    result is independent of partitioning and shuffle order. Autocorr is
    over observed days (gaps close ranks), documented semantics."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name", F.col("o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
    )
    wn = W.partitionBy("n_name").orderBy("day")
    pairs = daily.select(
        "n_name",
        F.col("cents").alias("y"),
        F.lag("cents").over(wn).alias("x"),
    ).where(F.col("x").isNotNull())
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    m = (
        pairs.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(dec("x")).cast("double").alias("sx"),
            F.sum(dec("y")).cast("double").alias("sy"),
            F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
            F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
            F.sum(dec("y") * dec("y")).cast("double").alias("syy"),
        )
        .where(F.col("n") >= 3)
    )
    return m.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_pairs"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# q192 — seasonal-naive forecast evaluation (WAPE + bias per nation)
# ---------------------------------------------------------------------------
@register(
    "q192_forecast_wape",
    tags=("timeseries", "forecast", "evaluation"),
    oracle="""
        WITH weekly AS (
          SELECT n_name,
                 CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT a.n_name, a.cents AS actual, f.cents AS forecast
          FROM weekly a JOIN weekly f
            ON a.n_name = f.n_name AND f.wk = a.wk - INTERVAL 7 DAY
        )
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_weeks_scored,
               CAST(SUM(ABS(actual - forecast)) AS DOUBLE)
                 / CAST(SUM(actual) AS DOUBLE) AS wape,
               (CAST(SUM(forecast) AS DOUBLE) - CAST(SUM(actual) AS DOUBLE))
                 / CAST(SUM(actual) AS DOUBLE) AS bias
        FROM scored GROUP BY n_name
    """,
)
def q192_forecast_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (next week = this week)
    on weekly revenue per nation: WAPE (weighted absolute percentage
    error) and signed bias — the forecast-evaluation primitive that
    gates any fancier model.

    WAPE is used instead of MAPE deliberately: sum|a-f| / sum(a) is two
    exact BIGINT-cents sums and ONE closing division, where MAPE's
    per-row division would accumulate floats in shuffle order. The
    weekly relation is calendar-bounded; the forecast lookup is a
    self-equi-join on (nation, week-7d) — at 100 TB both sides are the
    same tiny pre-aggregated relation, hash-joined on nation+week, and
    the fact table is touched exactly once."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    weekly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.date_trunc("week", "o_orderdate").cast("date").alias("wk"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
    )
    a = weekly.select(
        "n_name", F.col("wk").alias("awk"), F.col("cents").alias("actual")
    )
    f_ = weekly.select(
        F.col("n_name").alias("fn"),
        F.col("wk").alias("fwk"),
        F.col("cents").alias("forecast"),
    )
    scored = a.join(
        f_,
        (a.n_name == f_.fn) & (f_.fwk == F.date_sub(a.awk, 7)),
    )
    return scored.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks_scored"),
        (
            F.sum(F.abs(F.col("actual") - F.col("forecast"))).cast("double")
            / F.sum("actual").cast("double")
        ).alias("wape"),
        (
            (
                F.sum("forecast").cast("double")
                - F.sum("actual").cast("double")
            )
            / F.sum("actual").cast("double")
        ).alias("bias"),
    )


# ---------------------------------------------------------------------------
# q193 — rolling 7-day distinct users per day (exact, no sketch)
# ---------------------------------------------------------------------------
ROLL_W = 7  # trailing window width in days


@register(
    "q193_rolling_distinct",
    tags=("timeseries", "cardinality", "rolling"),
    bench=True,
    oracle=f"""
        WITH ud AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS DATE) AS day
          FROM events
        ),
        bounds AS (SELECT MAX(day) AS max_day FROM ud),
        cov AS (
          SELECT DISTINCT user_id, day + CAST(o AS INTEGER) AS day
          FROM ud CROSS JOIN (
            SELECT unnest(range(0, {ROLL_W})) AS o
          ) offs
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS users_7d
        FROM cov, bounds WHERE day <= max_day GROUP BY 1
    """,
)
def q193_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users for every day — exact rolling
    cardinality (the WAU curve), the metric HLL sketches (q171)
    approximate.

    Rolling COUNT(DISTINCT) does not decompose over a window frame, so
    the classic trap is a day⋈day range self-join that rescans each
    user-day W times *through a shuffle*. Instead: reduce facts to
    DISTINCT (user, day) once, then each user-day votes for the W days
    it keeps the user active (a map-side ROLL_W-way sequence explode —
    bounded 7x blowup of the already-tiny distinct relation), dedup,
    and count per day. Two hash shuffles total, both on pre-reduced
    relations; the trailing edge is clipped at the corpus max day via a
    broadcast scalar. At 100 TB the explode factor is the window width,
    independent of data volume — linear and skew-free (day keys are
    uniform)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    bounds = ud.agg(F.max("day").alias("max_day"))
    cov = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(ROLL_W - 1))).alias("o"),
            "day",
        )
        .select("user_id", F.expr("date_add(day, o)").alias("day"))
        .distinct()
    )
    return (
        cov.crossJoin(F.broadcast(bounds))
        .where(F.col("day") <= F.col("max_day"))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("users_7d"))
    )


# ---------------------------------------------------------------------------
# q201 — Allen interval-algebra census between event-type activity spans
# ---------------------------------------------------------------------------
_ALLEN_CASE = """
    CASE
      WHEN e1 < s2 THEN 'before'
      WHEN e1 = s2 THEN 'meets'
      WHEN s1 < s2 AND e1 > s2 AND e1 < e2 THEN 'overlaps'
      WHEN s1 = s2 AND e1 < e2 THEN 'starts'
      WHEN s1 > s2 AND e1 < e2 THEN 'during'
      WHEN s1 > s2 AND e1 = e2 THEN 'finishes'
      WHEN s1 = s2 AND e1 = e2 THEN 'equals'
      WHEN s1 < s2 AND e1 = e2 THEN 'finished_by'
      WHEN s1 < s2 AND e1 > e2 THEN 'contains'
      WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
      WHEN s1 > s2 AND s1 < e2 AND e1 > e2 THEN 'overlapped_by'
      WHEN s1 = e2 THEN 'met_by'
      ELSE 'after'
    END
"""


@register(
    "q201_allen_relations",
    tags=("eventtime", "interval", "algebra"),
    bench=True,
    oracle=f"""
        WITH spans AS (
          SELECT user_id, event_type,
                 MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
          FROM events GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
          FROM spans a JOIN spans b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
        )
        SELECT type_a, type_b, {_ALLEN_CASE} AS relation,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM pairs GROUP BY 1, 2, 3
    """,
)
def q201_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of Allen's 13 interval relations between each user's
    per-event-type activity spans ([first, last] event time): for every
    ordered type pair, how many users' spans are before / meet /
    overlap / contain / ... each other — the temporal-reasoning
    primitive behind protocol mining and care-pathway analysis.

    Spans reduce the facts once to a (user x type)-sized relation; the
    pair join is a self-join ON THE USER KEY, so its output is bounded
    by types² per user, never corpus² (q110's interval-join discipline).
    The classifier is one branch-exhaustive CASE over integer
    microsecond endpoints — identical text in both engines, total by
    construction (every endpoint ordering lands in exactly one arm,
    degenerate point spans included). The census aggregation is
    types²x13-sized. At 100 TB: one shuffle on user_id, one on the tiny
    census key."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("s"),
        F.max(F.unix_micros("ts")).alias("e"),
    )
    a = spans.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = spans.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("type_b"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    pairs = a.join(
        b, (a.user_id == b.ub) & (a.type_a < b.type_b)
    )
    return (
        pairs.select(
            "type_a", "type_b", F.expr(_ALLEN_CASE).alias("relation")
        )
        .groupBy("type_a", "type_b", "relation")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# q207 — time-decayed leaderboard (integer half-life popularity)
# ---------------------------------------------------------------------------
DECAY_HALFLIFE_D = 180  # weight halves every 180 days
DECAY_UNIT = 1 << 16    # fresh-event weight: 16 half-lives stay integral
DECAY_TOPK = 10


@register(
    "q207_decayed_leaderboard",
    tags=("timeseries", "topk", "decay"),
    oracle=f"""
        WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS today FROM events),
        w AS (
          SELECT user_id,
                 {DECAY_UNIT} >> CAST(LEAST(
                   date_diff('day', CAST(ts AS DATE), today)
                     // {DECAY_HALFLIFE_D}, 62) AS INTEGER) AS wt
          FROM events, mx
          WHERE event_type = 'purchase'
        ),
        s AS (
          SELECT user_id, CAST(SUM(wt) AS BIGINT) AS decayed_score,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM w GROUP BY user_id
        )
        SELECT user_id, decayed_score, n_events, CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   ORDER BY decayed_score DESC, user_id) AS rk
          FROM s
        ) t WHERE rk <= {DECAY_TOPK}
    """,
)
def q207_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted purchase leaderboard: each event contributes a
    weight that HALVES every DECAY_HALFLIFE_D days of age, so lapsed
    heavy spenders sink below currently-active ones — the decayed
    popularity score feeds/rankers use, in a shape sketches can't give
    you exactly.

    The classic float form (pow(0.5, age/h)) is transcendental and
    libm-divergent; bucketing age into whole half-lives makes the decay
    an INTEGER right-shift — exact, engine-identical, and mergeable
    (partial sums of integer weights combine map-side like any counter;
    re-basing "today" multiplies every weight by the same power of two,
    so rank order is stable across reruns). One fact pass with a scalar
    max-date broadcast, one hash agg per user, one top-k. The shift is
    clamped at 62 so pre-epoch outliers can't underflow into negative
    shifts."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("today"))
    w = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.expr(
                f"shiftright(cast({DECAY_UNIT} as bigint), "
                f"cast(least(datediff(today, cast(ts as date)) "
                f"div {DECAY_HALFLIFE_D}, 62) as int))"
            ).alias("wt"),
        )
    )
    s = w.groupBy("user_id").agg(
        F.sum("wt").cast("bigint").alias("decayed_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    wk = W.orderBy(F.col("decayed_score").desc(), "user_id")
    return (
        s.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .where(F.col("rk") <= DECAY_TOPK)
    )


# ---------------------------------------------------------------------------
# q215 — per-user work-queue depth via Lindley's recursion (closed form)
# ---------------------------------------------------------------------------
# The reference's async job intake (document_converter: queued uploads vs
# completed conversions) is a birth-death process; the operational question
# is "how deep does each user's queue get, and where does it end". The naive
# implementation is a sequential clamp-at-zero scan (non-associative, so no
# plain window can express it) — but the floor-at-zero recursion
#     d_t = max(0, d_{t-1} + delta_t)
# has Lindley's closed form over the UNCLAMPED prefix sum S_t:
#     d_t = S_t - min(0, min_{j<=t} S_j)
# which IS two associative windows (running sum + running min). That turns a
# per-key sequential scan into distributed window frames: partitioned by
# user, each key's frames evaluated independently — at 100 TB this is one
# shuffle by user_id and zero driver involvement, where the applyInPandas
# sequential replay would hold whole histories in Python. All-integer deltas
# so prefix values are exact on any engine or partitioning.
QUEUE_PUSH = ("view", "click", "signup")  # work arrives
# everything else ('purchase', 'error') resolves an item


@register(
    "q215_queue_depth",
    bench=True,
    tags=("timeseries", "window", "queueing"),
    oracle=f"""
        WITH d AS (
          SELECT user_id, epoch_us(ts) AS t_us, event_id,
                 CASE WHEN event_type IN {QUEUE_PUSH} THEN 1 ELSE -1 END AS delta
          FROM events
        ),
        r AS (
          SELECT user_id, t_us, event_id,
                 SUM(delta) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run
          FROM d
        ),
        q AS (
          SELECT user_id, t_us, event_id,
                 run - LEAST(0, MIN(run) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                               ROWS UNBOUNDED PRECEDING)) AS depth
          FROM r
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(depth) AS BIGINT) AS max_depth,
               CAST(max_by(depth, lpad(cast(t_us as string), 19, '0')
                                  || lpad(cast(event_id as string), 19, '0'))
                    AS BIGINT) AS end_depth
        FROM q GROUP BY user_id
    """,
)
def q215_queue_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user queue depth (floor-at-zero birth-death walk) via Lindley's
    closed form: depth = prefix_sum - min(0, running_min(prefix_sum)),
    turning the non-associative clamp scan into two associative window
    frames (see module comment — the 100 TB shape is one user_id shuffle,
    no sequential replay). Emits per-user n_events, max depth, end depth.

    Reference seam: document_converter's async intake
    (reference/document_converter/service.py task queue) — queue pressure
    per tenant is the capacity-planning readout of that pipeline.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_id",
        F.when(F.col("event_type").isin(*QUEUE_PUSH), F.lit(1))
        .otherwise(F.lit(-1))
        .alias("delta"),
    )
    wseq = (
        W.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    r = d.withColumn("run", F.sum("delta").over(wseq))
    # same (t_us, event_id) order as wseq: with t_us ties (possible after
    # the ns->us truncation in tables.py) an unqualified ORDER BY t_us
    # would make depth peer-order dependent (r4 ADVICE)
    q = r.withColumn(
        "depth", F.col("run") - F.least(F.lit(0), F.min("run").over(wseq))
    )
    # end_depth tie-break: lexicographic (t_us, event_id) string key —
    # packed-bigint would overflow (t_us ~1.7e15 times event_id range)
    return q.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("depth").cast("bigint").alias("max_depth"),
        # r16: struct key == the padded-string lexicographic order on
        # non-negative bigints, minus the per-row string allocation
        F.expr(
            "max_by(depth, struct(t_us, event_id))"
        ).cast("bigint").alias("end_depth"),
    )


# ---------------------------------------------------------------------------
# q219 — Haar wavelet pyramid of the daily revenue series
# ---------------------------------------------------------------------------
# Multiresolution downsampling: level-L Haar coefficients are (scaled)
# pairwise sums (approximation) and pairwise differences (detail) of the
# level below. Two levels over the gap-filled daily series give 2-day and
# 4-day resolution with the detail channel that says WHERE signal was lost
# — the principled alternative to plain decimation when a 100 TB metric
# store keeps coarse tiers (each level is one integer-keyed hash agg over
# the level below: day//2 then bucket//2 — map-side, shuffle bounded by
# series length, trivially iterable to level log2(span)).
#
# All pyramid math is exact BIGINT cents (sums and signed differences);
# the only doubles are the final /2^level/100 rescales (exact halving +
# one correctly-rounded /100), so any partitioning and engine hash alike.
# A trailing odd bucket keeps its single member (zero-padded tail),
# identically on both sides.
@register(
    "q219_haar_downsample",
    tags=("timeseries", "wavelet", "downsample"),
    oracle="""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (
          SELECT unnest(range(0, span + 1)) AS day FROM bounds
        ),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders o CROSS JOIN bounds b
          GROUP BY 1
        ),
        series AS (
          SELECT d.day, COALESCE(r.cents, 0) AS cents
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        l1 AS (
          SELECT day // 2 AS bucket,
                 SUM(cents) AS s,
                 SUM(CASE WHEN day % 2 = 0 THEN cents ELSE -cents END) AS d
          FROM series GROUP BY 1
        ),
        l2 AS (
          SELECT bucket // 2 AS bucket,
                 SUM(s) AS s,
                 SUM(CASE WHEN bucket % 2 = 0 THEN s ELSE -s END) AS d
          FROM l1 GROUP BY 1
        )
        SELECT CAST(1 AS INTEGER) AS level, CAST(bucket AS BIGINT) AS bucket,
               CAST(s AS DOUBLE) / 2.0 / 100.0 AS approx_rev,
               CAST(d AS DOUBLE) / 2.0 / 100.0 AS detail_rev
        FROM l1
        UNION ALL
        SELECT CAST(2 AS INTEGER), CAST(bucket AS BIGINT),
               CAST(s AS DOUBLE) / 4.0 / 100.0,
               CAST(d AS DOUBLE) / 4.0 / 100.0
        FROM l2
    """,
)
def q219_haar_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Haar pyramid (approximation + detail) of gap-filled daily
    revenue — exact-integer pairwise sums/differences per level, one hash
    agg per level (see block comment for the 100 TB tiering story)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(0, span)")).alias("day")
    )
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    series = (
        days.join(rev, "day", "left")
        .select("day", F.coalesce("cents", F.lit(0)).alias("cents"))
        # lazy cut: the pyramid levels re-reference the series (audit: 6
        # orders scans/plan uncut)
        .localCheckpoint(eager=False)
    )

    def level_up(df: DataFrame, key: str, val: str) -> DataFrame:
        """One Haar level: pairwise sum (s) and signed difference (d)."""
        return df.groupBy(
            F.floor(F.col(key) / 2).cast("bigint").alias("bucket")
        ).agg(
            F.sum(val).alias("s"),
            F.sum(
                F.when(F.col(key) % 2 == 0, F.col(val)).otherwise(-F.col(val))
            ).alias("d"),
        )

    l1 = level_up(series, "day", "cents")
    l2 = level_up(l1.select(F.col("bucket").alias("day"), "s"), "day", "s")
    out1 = l1.select(
        F.lit(1).cast("int").alias("level"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("s").cast("double") / 2.0 / 100.0).alias("approx_rev"),
        (F.col("d").cast("double") / 2.0 / 100.0).alias("detail_rev"),
    )
    out2 = l2.select(
        F.lit(2).cast("int").alias("level"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("s").cast("double") / 4.0 / 100.0).alias("approx_rev"),
        (F.col("d").cast("double") / 4.0 / 100.0).alias("detail_rev"),
    )
    return out1.unionByName(out2)


# ---------------------------------------------------------------------------
# q223 — additive seasonal decomposition (trend + day-of-week + residual)
# ---------------------------------------------------------------------------
# Classical STL-style decomposition of the daily revenue series:
#   trend    = centered 7-day moving average (full windows only)
#   seasonal = per-day-of-week mean of the detrended series
#   resid    = detrended - seasonal
# q116 flags anomalies against an hour-of-day baseline; this emits the
# decomposition itself — the series triage view (is growth trend or
# seasonality?) and the input to seasonal-adjusted downstream models.
#
# Scale: the fact table reduces to a series-length relation (one row per
# day) in one pass; the MA window and the dow aggregate run on that tiny
# relation (documented SinglePartition allowance — series-sized, not
# fact-sized; a per-series key would partition it). Day-of-week is
# day_index % 7 — pure integer arithmetic, no engine calendar functions.
# The detrended values are quantized to integer micro-cents (ROUND — the
# half-away op both engines share) so the seasonal means are
# accumulation-order free.
@register(
    "q223_stl_decompose",
    tags=("timeseries", "decomposition", "window"),
    oracle="""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (SELECT unnest(range(0, span + 1)) AS day, span FROM bounds),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders o CROSS JOIN bounds b GROUP BY 1
        ),
        series AS (
          SELECT d.day, d.span, COALESCE(r.cents, 0) AS cents
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        ma AS (
          SELECT day, span, cents,
                 SUM(cents) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7
          FROM series
        ),
        det AS (
          SELECT day, cents,
                 CAST(ROUND((cents - s7 / 7.0) * 1000000.0) AS BIGINT) AS dmic
          FROM ma WHERE day >= 3 AND day <= span - 3
        ),
        seas AS (
          SELECT day % 7 AS dow,
                 CAST(SUM(dmic) AS DOUBLE) / (1000000.0 * COUNT(*)) AS seasonal
          FROM det GROUP BY 1
        )
        SELECT d.day AS day, CAST(d.day % 7 AS INTEGER) AS dow,
               CAST(d.cents AS DOUBLE) / 100.0 AS revenue,
               (d.cents - d.dmic / 1000000.0) / 100.0 AS trend,
               s.seasonal / 100.0 AS seasonal,
               (d.dmic / 1000000.0 - s.seasonal) / 100.0 AS resid
        FROM det d JOIN seas s ON d.day % 7 = s.dow
    """,
)
def q223_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/day-of-week/residual decomposition of daily revenue
    (centered 7-day MA trend, integer-quantized detrended series — see
    block comment for the exactness and scale shape)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(0, span)")).alias("day"), "span"
    )
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    series = days.join(rev, "day", "left").select(
        "day", "span", F.coalesce("cents", F.lit(0)).alias("cents")
    ).localCheckpoint(eager=False)  # lazy cut: trend/seasonal/residual reuse
    ma = series.withColumn(
        "s7", F.sum("cents").over(W.orderBy("day").rowsBetween(-3, 3))
    )
    det = ma.where(
        (F.col("day") >= 3) & (F.col("day") <= F.col("span") - 3)
    ).select(
        "day",
        "cents",
        F.round((F.col("cents") - F.col("s7") / 7.0) * 1000000.0)
        .cast("bigint")
        .alias("dmic"),
    )
    seas = det.groupBy((F.col("day") % 7).alias("dow")).agg(
        (F.sum("dmic").cast("double") / (1000000.0 * F.count(F.lit(1)))).alias(
            "seasonal"
        )
    )
    return det.join(seas, det.day % 7 == seas.dow).select(
        "day",
        (F.col("day") % 7).cast("int").alias("dow"),
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        ((F.col("cents") - F.col("dmic") / 1000000.0) / 100.0).alias("trend"),
        (F.col("seasonal") / 100.0).alias("seasonal"),
        ((F.col("dmic") / 1000000.0 - F.col("seasonal")) / 100.0).alias("resid"),
    )


# ---------------------------------------------------------------------------
# q224 — SAX symbolization of the weekly revenue series
# ---------------------------------------------------------------------------
# Symbolic Aggregate approXimation — the classic symbolic index for
# similarity search over massive series collections (Lin/Keogh): PAA-
# average the series into fixed segments, z-normalize, then discretize
# into an alphabet at Gaussian-equiprobable breakpoints. Downstream,
# equal SAX words are a blocking key for series similarity — the
# time-series analog of q43's MinHash bands.
#
# Exactness: weekly PAA values are s/7 of integer dollar sums, and the
# z-score moments come from exact integer Σs, Σs² — so mean/σ/z are
# identical IEEE trees on identical inputs. Breakpoints (±0.6745, the
# N(0,1) quartiles) are literals CAST AS DOUBLE on both engines. The
# 4-week SAX words are built by ORDERED string aggregation — determinism
# from the explicit week ordering, not row order. Scale: series-length
# relations only after the first fact pass (q223's posture); per-series
# keys would partition every step.
@register(
    "q224_sax_symbols",
    tags=("timeseries", "sax", "indexing"),
    oracle="""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (SELECT unnest(range(0, span + 1)) AS day FROM bounds),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS dollars
          FROM orders o CROSS JOIN bounds b GROUP BY 1
        ),
        series AS (
          SELECT d.day, COALESCE(r.dollars, 0) AS dollars
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        weeks AS (
          SELECT day // 7 AS week, CAST(SUM(dollars) AS BIGINT) AS s,
                 COUNT(*) AS c
          FROM series GROUP BY 1
        ),
        full_weeks AS (SELECT week, s FROM weeks WHERE c = 7),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(s) AS BIGINT) AS ss,
                 CAST(SUM(s * s) AS BIGINT) AS ss2
          FROM full_weeks
        ),
        z AS (
          SELECT week,
                 (CAST(s AS DOUBLE) / 7.0 - CAST(ss AS DOUBLE) / (7.0 * k))
                 / sqrt(CAST(ss2 AS DOUBLE) / (49.0 * k)
                        - (CAST(ss AS DOUBLE) / (7.0 * k))
                          * (CAST(ss AS DOUBLE) / (7.0 * k))) AS zz
          FROM full_weeks CROSS JOIN stats
        ),
        sym AS (
          SELECT week,
                 CASE WHEN zz < CAST(-0.6744897501960817 AS DOUBLE) THEN 'a'
                      WHEN zz < CAST(0.0 AS DOUBLE) THEN 'b'
                      WHEN zz < CAST(0.6744897501960817 AS DOUBLE) THEN 'c'
                      ELSE 'd' END AS sym
          FROM z
        )
        SELECT week // 4 AS block, CAST(COUNT(*) AS BIGINT) AS n_weeks,
               string_agg(sym, '' ORDER BY week) AS sax_word
        FROM sym GROUP BY 1
    """,
)
def q224_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words (4-symbol Gaussian alphabet, weekly PAA, 4-week words)
    over daily revenue — the symbolic blocking key for series similarity
    at scale (see block comment; exact integer moments, literal
    breakpoints, ordered word assembly)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(F.explode(F.expr("sequence(0, span)")).alias("day"))
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("dollars"),
        )
        .groupBy("day")
        .agg(F.sum("dollars").cast("bigint").alias("dollars"))
    )
    series = days.join(rev, "day", "left").select(
        "day", F.coalesce("dollars", F.lit(0)).alias("dollars")
    ).localCheckpoint(eager=False)  # lazy cut: weekly agg + corpus stats reuse
    weeks = series.groupBy(F.expr("day div 7").alias("week")).agg(
        F.sum("dollars").cast("bigint").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    full_weeks = weeks.where(F.col("c") == 7).select("week", "s")
    stats = full_weeks.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("ss2"),
    )
    z = full_weeks.crossJoin(F.broadcast(stats)).selectExpr(
        "week",
        "(CAST(s AS DOUBLE) / 7.0 - CAST(ss AS DOUBLE) / (7.0 * k))"
        " / sqrt(CAST(ss2 AS DOUBLE) / (49.0 * k)"
        "        - (CAST(ss AS DOUBLE) / (7.0 * k))"
        "          * (CAST(ss AS DOUBLE) / (7.0 * k))) AS zz",
    )
    sym = z.selectExpr(
        "week",
        "CASE WHEN zz < CAST(-0.6744897501960817 AS DOUBLE) THEN 'a' "
        "WHEN zz < CAST(0.0 AS DOUBLE) THEN 'b' "
        "WHEN zz < CAST(0.6744897501960817 AS DOUBLE) THEN 'c' "
        "ELSE 'd' END AS sym",
    )
    return sym.groupBy(F.expr("week div 4").alias("block")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(week, sym))),"
            " x -> x.sym), '')"
        ).alias("sax_word"),
    )


# ---------------------------------------------------------------------------
# q225 — Markov absorption: P(reach 'purchase' within 3 steps) per state
# ---------------------------------------------------------------------------
# q85 emits the transition matrix; this answers the question the matrix is
# usually built for — from each behavioral state, how likely is the user
# to hit the absorbing target within k steps? The recursion
#     h_k(x) = P(x→T) + Σ_{y≠T} P(x→y) · h_{k-1}(y)
# is unrolled 3 rounds as equi-joins on the STATE-VOCABULARY-sized
# transition relation (25 rows) — never on facts; the fact pass is one
# lag-window per user (q85's shape).
#
# Determinism: probabilities are quantized to integer nano-units with
# ROUND (half-away on both engines), every per-round sum is an exact
# BIGINT sum of nano-products (≤4e18, in range), and the /1e9 rescale +
# re-ROUND is correctly rounded — the whole ladder is integer-exact on
# any engine and partitioning. Quantization error ≤ 1e-9/round.
_ABSORB_TARGET = "purchase"
_ABS_N = 1_000_000_000  # nano-unit scale


def _absorb_round(prev: str) -> str:
    """One absorption round (shared SQL text): contribution of an edge to
    the target is pn·1 (already absorbed); to a live state, pn·h_prev."""
    return (
        f"CAST(ROUND(CAST(SUM(CASE WHEN y = '{_ABSORB_TARGET}' "
        f"THEN pn * CAST({_ABS_N} AS BIGINT) "
        f"ELSE pn * COALESCE({prev}, CAST(0 AS BIGINT)) END) AS DOUBLE) "
        f"/ {_ABS_N}.0) AS BIGINT)"
    )


@register(
    "q225_markov_absorption",
    tags=("timeseries", "markov", "graph"),
    oracle=f"""
        WITH trans AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
                 event_type AS y
          FROM events
        ),
        counts AS (
          SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
          FROM trans WHERE x IS NOT NULL GROUP BY x, y
        ),
        totals AS (
          SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM counts GROUP BY x
        ),
        p AS (
          SELECT c.x, c.y, t.cx,
                 CAST(ROUND({_ABS_N}.0 * c.cxy / t.cx) AS BIGINT) AS pn
          FROM counts c JOIN totals t ON c.x = t.x
        ),
        h1 AS (
          SELECT x, {_absorb_round('NULL')} AS h
          FROM p GROUP BY x
        ),
        h2 AS (
          SELECT p.x, {_absorb_round('hp.h')} AS h
          FROM p LEFT JOIN h1 hp ON p.y = hp.x GROUP BY p.x
        ),
        h3 AS (
          SELECT p.x, {_absorb_round('hp.h')} AS h
          FROM p LEFT JOIN h2 hp ON p.y = hp.x GROUP BY p.x
        )
        SELECT t.x AS state, t.cx AS n_obs,
               CAST(h3.h AS DOUBLE) / {_ABS_N}.0 AS p_absorb_3
        FROM totals t JOIN h3 ON t.x = h3.x
    """,
)
def q225_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability of reaching the purchase state within 3 transitions from
    each behavioral state — 3 unrolled absorption rounds on the 25-row
    transition matrix, integer-nano-quantized (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    trans = ev.select(
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("x"),
        F.col("event_type").alias("y"),
    ).where(F.col("x").isNotNull())
    # lazy cut: the 25-row transition matrix is re-joined every unrolled
    # round; without it each round re-derives the full events scan + lag
    # window (plan audit showed 6-18 event scans per run)
    counts = trans.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("cxy")
    ).localCheckpoint(eager=False)
    totals = counts.groupBy("x").agg(F.sum("cxy").cast("bigint").alias("cx"))
    p = counts.join(F.broadcast(totals), "x").select(
        "x",
        "y",
        "cx",
        F.expr(f"CAST(ROUND({_ABS_N}.0 * cxy / cx) AS BIGINT)").alias("pn"),
    )
    h = None
    for _ in range(3):
        if h is None:
            joined = p.withColumn("hprev", F.lit(None).cast("bigint"))
        else:
            joined = p.join(
                F.broadcast(h.selectExpr("x AS y", "h AS hprev")), "y", "left"
            )
        h = joined.groupBy("x").agg(
            F.expr(_absorb_round("hprev")).alias("h")
        )
    return totals.join(h, "x").selectExpr(
        "x AS state", "cx AS n_obs", f"CAST(h AS DOUBLE) / {_ABS_N}.0 AS p_absorb_3"
    )


# ---------------------------------------------------------------------------
# q230 — lead-lag cross-correlation between two event streams
# ---------------------------------------------------------------------------
# q117's comovement matrix is contemporaneous; operations questions are
# usually lead-lag ("do views at hour t predict purchases at t+2?"). This
# computes Pearson correlation between the hourly 'view' series and the
# 'purchase' series shifted by every lag in [-3, +3] — the discrete
# cross-correlation function whose argmax is the lead time.
#
# Shape: one fact pass to two dense hourly series (gap-filled via the
# hour grid), a 7-row lag relation exploded against the series (series ×
# lags sized, not fact sized), and per-lag exact integer moment sums —
# corr is the single closing sqrt expression per lag (q216 discipline).
_XCORR_LAGS = 3
_XCORR_A = "view"
_XCORR_B = "purchase"


@register(
    "q230_lagged_xcorr",
    tags=("timeseries", "correlation", "leadlag"),
    oracle=f"""
        WITH bounds AS (
          SELECT MIN(epoch_us(ts) // 3600000000) AS h0,
                 MAX(epoch_us(ts) // 3600000000) AS h1
          FROM events
        ),
        hours AS (
          SELECT unnest(range(0, h1 - h0 + 1)) AS h FROM bounds
        ),
        va AS (
          SELECT epoch_us(ts) // 3600000000 - b.h0 AS h,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events e CROSS JOIN bounds b
          WHERE event_type = '{_XCORR_A}' GROUP BY 1
        ),
        vb AS (
          SELECT epoch_us(ts) // 3600000000 - b.h0 AS h,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events e CROSS JOIN bounds b
          WHERE event_type = '{_XCORR_B}' GROUP BY 1
        ),
        sa_ AS (SELECT hours.h, COALESCE(va.c, 0) AS x
               FROM hours LEFT JOIN va ON hours.h = va.h),
        sb_ AS (SELECT hours.h, COALESCE(vb.c, 0) AS y
               FROM hours LEFT JOIN vb ON hours.h = vb.h),
        lags AS (SELECT unnest(range(-{_XCORR_LAGS}, {_XCORR_LAGS} + 1))
                   AS lag),
        joined AS (
          SELECT l.lag, a.x, b.y
          FROM lags l
          CROSS JOIN sa_ a
          JOIN sb_ b ON b.h = a.h + l.lag
        ),
        mom AS (
          SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM joined GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                 AS xcorr
        FROM mom
    """,
)
def q230_lagged_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function (lags −3..+3 hours) between hourly view
    and purchase volumes — dense gap-filled series, per-lag exact integer
    moments, one closing sqrt expression per lag (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    ev_h = ev.select(F.floor(F.unix_micros("ts") / 3600000000).cast("bigint").alias("habs"), "event_type")
    bounds = ev_h.agg(
        F.min("habs").alias("h0"), F.max("habs").alias("h1")
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(0, h1 - h0)")).alias("h")
    )
    def series(ev_type: str, out: str) -> DataFrame:
        v = (
            ev_h.where(F.col("event_type") == ev_type)
            .crossJoin(F.broadcast(bounds))
            .groupBy((F.col("habs") - F.col("h0")).alias("h"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        # lazy cut: each dense series feeds all 7 lag branches of the
        # cross-correlation join (audit: 6 event scans/plan uncut)
        return hours.join(v, "h", "left").select(
            "h", F.coalesce("c", F.lit(0)).alias(out)
        ).localCheckpoint(eager=False)
    sa_ = series(_XCORR_A, "x")
    sb_ = series(_XCORR_B, "y")
    lags = spark.range(-_XCORR_LAGS, _XCORR_LAGS + 1).select(
        F.col("id").alias("lag")
    )
    joined = (
        F.broadcast(lags)
        .crossJoin(sa_)
        .join(sb_.selectExpr("h AS hb", "y"), F.col("hb") == F.col("h") + F.col("lag"))
    )
    mom = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return mom.selectExpr(
        "CAST(lag AS BIGINT) AS lag",
        "n",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        "    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
        " AS xcorr",
    )


# ---------------------------------------------------------------------------
# q234 — multi-window SLO burn-rate alerts (SRE error-budget policy)
# ---------------------------------------------------------------------------
# The Google-SRE alerting rule: page when the error-budget burn rate is
# high in BOTH a short and a long window — the short window gives fast
# detection, the long window suppresses blips. burn = (errors/events) /
# budget; here budget = 25% error share and the windows are 1h and
# trailing 6h over the dense hourly grid.
#
# Shape: one fact pass to hourly (errors, total) integer pairs, gap-filled
# on the hour grid; the 6h trailing sums are ROWS windows over the
# series-length relation (q223 posture — series-sized, documented
# allowance). Rates are exact-integer ratios; the alert predicate is pure
# integer cross-multiplication (err * 4 > tot  ⇔  err/tot / 0.25 > 1), so
# the alert set is engine- and partition-exact with NO float compare at
# the boundary.
_SLO_BUDGET_X = 4  # budget = 1/4 error share; burn>1 ⇔ err * 4 > tot


@register(
    "q234_slo_burn_alerts",
    tags=("timeseries", "slo", "operational"),
    oracle=f"""
        WITH bounds AS (
          SELECT MIN(epoch_us(ts) // 3600000000) AS h0,
                 MAX(epoch_us(ts) // 3600000000) AS h1
          FROM events
        ),
        hours AS (SELECT unnest(range(0, h1 - h0 + 1)) AS h FROM bounds),
        hourly AS (
          SELECT epoch_us(ts) // 3600000000 - b.h0 AS h,
                 CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                      AS BIGINT) AS err,
                 CAST(COUNT(*) AS BIGINT) AS tot
          FROM events e CROSS JOIN bounds b GROUP BY 1
        ),
        grid AS (
          SELECT hours.h, COALESCE(hourly.err, 0) AS err,
                 COALESCE(hourly.tot, 0) AS tot
          FROM hours LEFT JOIN hourly ON hours.h = hourly.h
        ),
        windows AS (
          SELECT h, err, tot,
                 SUM(err) OVER (ORDER BY h ROWS BETWEEN 5 PRECEDING
                                AND CURRENT ROW) AS err6,
                 SUM(tot) OVER (ORDER BY h ROWS BETWEEN 5 PRECEDING
                                AND CURRENT ROW) AS tot6
          FROM grid
        )
        SELECT h AS hour, err, tot,
               CAST(err6 AS BIGINT) AS err_6h, CAST(tot6 AS BIGINT) AS tot_6h,
               CASE WHEN tot > 0 THEN CAST(err AS DOUBLE) / tot
                      * {_SLO_BUDGET_X} ELSE 0.0 END AS burn_1h,
               CASE WHEN tot6 > 0 THEN CAST(err6 AS DOUBLE) / tot6
                      * {_SLO_BUDGET_X} ELSE 0.0 END AS burn_6h,
               CASE WHEN err * {_SLO_BUDGET_X} > tot
                     AND err6 * {_SLO_BUDGET_X} > tot6
                    THEN 1 ELSE 0 END AS alert
        FROM windows
    """,
)
def q234_slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-window (1h + trailing 6h) error-budget burn-rate alerts over the
    hourly event grid — integer cross-multiplied alert predicate, dense
    gap-filled series (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    ev_h = ev.select(
        F.floor(F.unix_micros("ts") / 3600000000).cast("bigint").alias("habs"),
        "event_type",
    )
    bounds = ev_h.agg(F.min("habs").alias("h0"), F.max("habs").alias("h1"))
    hours = bounds.select(F.explode(F.expr("sequence(0, h1 - h0)")).alias("h"))
    hourly = (
        ev_h.crossJoin(F.broadcast(bounds))
        .groupBy((F.col("habs") - F.col("h0")).alias("h"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).cast("bigint").alias("err"),
            F.count(F.lit(1)).cast("bigint").alias("tot"),
        )
    )
    grid = hours.join(hourly, "h", "left").select(
        "h",
        F.coalesce("err", F.lit(0)).alias("err"),
        F.coalesce("tot", F.lit(0)).alias("tot"),
    ).localCheckpoint(eager=False)  # lazy cut: both burn windows reuse the grid
    w6 = W.orderBy("h").rowsBetween(-5, 0)
    windows = grid.select(
        "h",
        "err",
        "tot",
        F.sum("err").over(w6).alias("err6"),
        F.sum("tot").over(w6).alias("tot6"),
    )
    return windows.selectExpr(
        "h AS hour",
        "err",
        "tot",
        "CAST(err6 AS BIGINT) AS err_6h",
        "CAST(tot6 AS BIGINT) AS tot_6h",
        f"CASE WHEN tot > 0 THEN CAST(err AS DOUBLE) / tot * {_SLO_BUDGET_X}"
        " ELSE 0.0 END AS burn_1h",
        f"CASE WHEN tot6 > 0 THEN CAST(err6 AS DOUBLE) / tot6 * {_SLO_BUDGET_X}"
        " ELSE 0.0 END AS burn_6h",
        f"CASE WHEN err * {_SLO_BUDGET_X} > tot"
        f" AND err6 * {_SLO_BUDGET_X} > tot6 THEN 1 ELSE 0 END AS alert",
    )


# ---------------------------------------------------------------------------
# q239 — burstiness and memory of per-user event interarrivals
# ---------------------------------------------------------------------------
# The Goh–Barabási point-process fingerprint: burstiness
# B = (σ−μ)/(σ+μ) of interarrival times (−1 = periodic, 0 = Poisson,
# →1 = bursty) and the memory coefficient M = lag-1 Pearson correlation
# of consecutive interarrivals. Together they classify a stream's
# temporal texture — q122 histograms interarrivals; this reduces each
# user's process to the two canonical coordinates.
#
# Interarrivals are exact integer SECONDS (lag window on unique
# timestamps); all moments — including the lag-1 cross moment, built by
# pairing each gap with the NEXT gap via a second lag window — are exact
# BIGINT sums, so μ, σ, B, M are closing sqrt/÷ expressions per user.
# One shuffle by user_id; everything else is map-side.
@register(
    "q239_burstiness",
    tags=("timeseries", "pointprocess", "stats"),
    oracle="""
        WITH gaps0 AS (
          SELECT user_id, ts, event_id,
                 (epoch_us(ts) - LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
          FROM events
        ),
        gaps AS (
          SELECT user_id, g,
                 LEAD(g) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g_next
          FROM gaps0
        ),
        mom AS (
          SELECT user_id,
                 CAST(COUNT(g) AS BIGINT) AS n,
                 CAST(SUM(g) AS BIGINT) AS s1,
                 CAST(SUM(g * g) AS BIGINT) AS s2,
                 CAST(COUNT(CASE WHEN g_next IS NOT NULL THEN 1 END)
                      AS BIGINT) AS np,
                 CAST(SUM(CASE WHEN g_next IS NOT NULL THEN g END)
                      AS BIGINT) AS px,
                 CAST(SUM(CASE WHEN g_next IS NOT NULL THEN g_next END)
                      AS BIGINT) AS py,
                 CAST(SUM(CASE WHEN g_next IS NOT NULL THEN g * g END)
                      AS BIGINT) AS pxx,
                 CAST(SUM(CASE WHEN g_next IS NOT NULL THEN g_next * g_next END)
                      AS BIGINT) AS pyy,
                 CAST(SUM(CASE WHEN g_next IS NOT NULL THEN g * g_next END)
                      AS BIGINT) AS pxy
          FROM gaps WHERE g IS NOT NULL
          GROUP BY user_id
        )
        SELECT user_id, n,
               CAST(s1 AS DOUBLE) / n AS mean_gap_s,
               sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1))
                 / n AS sd_gap_s,
               (sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)) / n
                - CAST(s1 AS DOUBLE) / n)
               / (sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)) / n
                  + CAST(s1 AS DOUBLE) / n) AS burstiness,
               (CAST(np AS DOUBLE) * pxy - CAST(px AS DOUBLE) * py)
               / (sqrt(CAST(np AS DOUBLE) * pxx - CAST(px AS DOUBLE) * px)
                  * sqrt(CAST(np AS DOUBLE) * pyy - CAST(py AS DOUBLE) * py))
                 AS memory_coef
        FROM mom WHERE n >= 3
    """,
)
def q239_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness B and memory coefficient M per user from
    exact-integer interarrival moments (see block comment — one user_id
    shuffle, closing sqrt expressions)."""
    ev = load_table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    # integer SECONDS (floor div): µs² moments overflow BIGINT at month-
    # scale gaps; second-resolution keeps Σg² exact with 6 decades of room
    gcol = (
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu))
        / F.lit(1000000)
    ).cast("bigint")
    gaps = ev.select(
        "user_id",
        gcol.alias("g"),
        F.lead(gcol).over(wu).alias("g_next"),
    ).where(F.col("g").isNotNull())
    has_next = F.col("g_next").isNotNull()
    mom = gaps.groupBy("user_id").agg(
        F.count("g").cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s1"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("s2"),
        F.count(F.when(has_next, 1)).cast("bigint").alias("np"),
        F.sum(F.when(has_next, F.col("g"))).cast("bigint").alias("px"),
        F.sum(F.when(has_next, F.col("g_next"))).cast("bigint").alias("py"),
        F.sum(F.when(has_next, F.col("g") * F.col("g"))).cast("bigint").alias("pxx"),
        F.sum(F.when(has_next, F.col("g_next") * F.col("g_next")))
        .cast("bigint")
        .alias("pyy"),
        F.sum(F.when(has_next, F.col("g") * F.col("g_next")))
        .cast("bigint")
        .alias("pxy"),
    )
    return mom.where(F.col("n") >= 3).selectExpr(
        "user_id",
        "n",
        "CAST(s1 AS DOUBLE) / n AS mean_gap_s",
        "sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1))"
        " / n AS sd_gap_s",
        "(sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)) / n"
        " - CAST(s1 AS DOUBLE) / n)"
        " / (sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)) / n"
        "    + CAST(s1 AS DOUBLE) / n) AS burstiness",
        "(CAST(np AS DOUBLE) * pxy - CAST(px AS DOUBLE) * py)"
        " / (sqrt(CAST(np AS DOUBLE) * pxx - CAST(px AS DOUBLE) * px)"
        "    * sqrt(CAST(np AS DOUBLE) * pyy - CAST(py AS DOUBLE) * py))"
        " AS memory_coef",
    )


# ---------------------------------------------------------------------------
# q242 — optimal single changepoint (binary segmentation, exact)
# ---------------------------------------------------------------------------
# q119's CUSUM *detects* drift against a reference; binary segmentation
# *locates* the optimal break: the split t minimizing SSE_left+SSE_right,
# equivalently maximizing g(t) = S_L²/n_L + S_R²/n_R (prefix-sum closed
# form — no per-split scan; scores round to whole units, ulp-scale
# resolution at these magnitudes, before the argmax). One cumulative window over the series-length
# relation computes every candidate's score; the argmax is a two-step
# exact reduce (max of micro-quantized score, then min day achieving it —
# deterministic tie-break, no float compare). Recursing on each side
# yields full binary segmentation; one level is the declarative unit.
@register(
    "q242_binary_segmentation",
    tags=("timeseries", "changepoint", "window"),
    oracle="""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (SELECT unnest(range(0, span + 1)) AS day FROM bounds),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS v
          FROM orders o CROSS JOIN bounds b GROUP BY 1
        ),
        series AS (
          SELECT d.day, COALESCE(r.v, 0) AS v
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
          FROM series
        ),
        pre AS (
          SELECT day,
                 SUM(v) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sl,
                 ROW_NUMBER() OVER (ORDER BY day) AS nl
          FROM series
        ),
        scored AS (
          SELECT p.day,
                 CAST(ROUND(
                   CAST(p.sl AS DOUBLE) * p.sl / p.nl
                   + CAST(t.s - p.sl AS DOUBLE) * (t.s - p.sl)
                     / greatest(t.n - p.nl, 1)) AS BIGINT) AS gq,
                 p.sl, p.nl, t.s, t.n
          FROM pre p CROSS JOIN tot t
          WHERE p.nl < t.n
        ),
        best AS (SELECT MAX(gq) AS m FROM scored)
        SELECT CAST(MIN(s.day) AS BIGINT) AS split_day,
               CAST(MIN(s.nl) AS BIGINT) AS n_left,
               CAST(MIN(s.n - s.nl) AS BIGINT) AS n_right,
               MIN(CAST(s.sl AS DOUBLE) / s.nl) AS mean_left,
               MIN(CAST(s.s - s.sl AS DOUBLE) / (s.n - s.nl)) AS mean_right
        FROM scored s CROSS JOIN best b
        WHERE s.gq = b.m
    """,
)
def q242_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact optimal single changepoint of the daily revenue series via the
    prefix-sum SSE closed form (see block comment — one cumulative window,
    quantized argmax with deterministic tie-break)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(F.explode(F.expr("sequence(0, span)")).alias("day"))
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").cast("bigint").alias("v"))
    )
    # lazy cut: totals and the prefix window both consume the ~2400-row
    # series; uncut, each re-derives the orders scan (12 scans/plan)
    series = days.join(rev, "day", "left").select(
        "day", F.coalesce("v", F.lit(0)).alias("v")
    ).localCheckpoint(eager=False)
    tot = series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    wseq = W.orderBy("day")
    pre = series.select(
        "day",
        F.sum("v").over(wseq.rowsBetween(W.unboundedPreceding, 0)).alias("sl"),
        F.row_number().over(wseq).alias("nl"),
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.col("nl") < F.col("n"))
        .selectExpr(
            "day",
            "CAST(ROUND("
            " CAST(sl AS DOUBLE) * sl / nl"
            " + CAST(s - sl AS DOUBLE) * (s - sl) / greatest(n - nl, 1))"
            " AS BIGINT) AS gq",
            "sl", "nl", "s", "n",
        )
    )
    best = scored.agg(F.max("gq").alias("m"))
    return (
        scored.crossJoin(F.broadcast(best))
        .where(F.col("gq") == F.col("m"))
        .agg(
            F.min("day").cast("bigint").alias("split_day"),
            F.min("nl").cast("bigint").alias("n_left"),
            F.min(F.col("n") - F.col("nl")).cast("bigint").alias("n_right"),
            F.min(F.col("sl").cast("double") / F.col("nl")).alias("mean_left"),
            F.min(
                (F.col("s") - F.col("sl")).cast("double")
                / (F.col("n") - F.col("nl"))
            ).alias("mean_right"),
        )
    )


# ---------------------------------------------------------------------------
# q243 — Gini-Simpson behavioral diversity per user
# ---------------------------------------------------------------------------
# Entropy without logarithms: the Gini-Simpson index 1 − Σp² and the
# effective number of behaviors 1/Σp² (inverse Simpson) — exact rational
# functions of integer counts, so the diversity profile is engine-exact
# (Shannon entropy's log is not cross-engine reproducible; for k=5
# behavior classes the Hill numbers carry the same ordering). One keyed
# aggregate to (user, type) counts, one hash agg of squared counts.
@register(
    "q243_simpson_diversity",
    tags=("stats", "diversity", "behavior"),
    oracle="""
        WITH c AS (
          SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS k
          FROM events GROUP BY user_id, event_type
        ),
        agg AS (
          SELECT user_id,
                 CAST(SUM(k) AS BIGINT) AS n,
                 CAST(SUM(k * k) AS BIGINT) AS kk,
                 CAST(COUNT(*) AS BIGINT) AS n_types
          FROM c GROUP BY user_id
        )
        SELECT user_id, n, n_types,
               1.0 - CAST(kk AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                 AS gini_simpson,
               (CAST(n AS DOUBLE) * n) / kk AS effective_types
        FROM agg
    """,
)
def q243_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson diversity and inverse-Simpson effective behavior count
    per user — the log-free diversity profile (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    agg = c.groupBy("user_id").agg(
        F.sum("k").cast("bigint").alias("n"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("kk"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return agg.selectExpr(
        "user_id",
        "n",
        "n_types",
        "1.0 - CAST(kk AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS gini_simpson",
        "(CAST(n AS DOUBLE) * n) / kk AS effective_types",
    )


# ---------------------------------------------------------------------------
# q244 — peak detection with an integer prominence gate
# ---------------------------------------------------------------------------
# Local-maximum mining on the daily revenue series: a day is a peak when
# it strictly exceeds its ±3-day neighborhood AND clears 1.2× the centered
# 7-day average. Both predicates are pure INTEGER comparisons (the ratio
# gate cross-multiplies: 35·v > 6·s7 ⇔ v > 1.2·s7/7), so the peak set is
# bit-exact on any engine — no float at the decision boundary (the q234
# discipline). Windows run on the series-length relation (q223 posture).
@register(
    "q244_peak_detection",
    tags=("timeseries", "peaks", "window"),
    oracle="""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (SELECT unnest(range(0, span + 1)) AS day, span FROM bounds),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS v
          FROM orders o CROSS JOIN bounds b GROUP BY 1
        ),
        series AS (
          SELECT d.day, d.span, COALESCE(r.v, 0) AS v
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        ctx AS (
          SELECT day, span, v,
                 MAX(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                              AND 1 PRECEDING) AS mx_l,
                 MAX(v) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING
                              AND 3 FOLLOWING) AS mx_r,
                 SUM(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING) AS s7
          FROM series
        )
        SELECT day AS peak_day, v AS revenue_dollars,
               CAST(s7 AS BIGINT) AS window_sum,
               CAST(7 AS DOUBLE) * v / s7 AS lift
        FROM ctx
        WHERE day >= 3 AND day <= span - 3
          AND v > mx_l AND v > mx_r
          AND 35 * v > 6 * s7
    """,
)
def q244_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ±3-day local maxima of daily revenue clearing a 1.2× weekly-
    average prominence gate — all-integer peak predicate (see block
    comment)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(0, span)")).alias("day"), "span"
    )
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").cast("bigint").alias("v"))
    )
    series = days.join(rev, "day", "left").select(
        "day", "span", F.coalesce("v", F.lit(0)).alias("v")
    ).localCheckpoint(eager=False)  # lazy cut: neighborhood windows reuse
    wd = W.orderBy("day")
    ctx = series.select(
        "day",
        "span",
        "v",
        F.max("v").over(wd.rowsBetween(-3, -1)).alias("mx_l"),
        F.max("v").over(wd.rowsBetween(1, 3)).alias("mx_r"),
        F.sum("v").over(wd.rowsBetween(-3, 3)).alias("s7"),
    )
    return ctx.where(
        (F.col("day") >= 3)
        & (F.col("day") <= F.col("span") - 3)
        & (F.col("v") > F.col("mx_l"))
        & (F.col("v") > F.col("mx_r"))
        & (35 * F.col("v") > 6 * F.col("s7"))
    ).selectExpr(
        "day AS peak_day",
        "v AS revenue_dollars",
        "CAST(s7 AS BIGINT) AS window_sum",
        "CAST(7 AS DOUBLE) * v / s7 AS lift",
    )


# ---------------------------------------------------------------------------
# q248 — hierarchical forecast reconciliation (nation → region coherence)
# ---------------------------------------------------------------------------
# The forecasting-ops problem q192 (accuracy backtest) doesn't cover:
# forecasts made independently at two hierarchy levels DISAGREE, and
# downstream allocation needs one coherent set. Nation-level forecasts use
# seasonal-naive (same month last year); the region level uses a
# trailing-3-month mean (a deliberately different model); top-down
# reconciliation scales each nation's seasonal forecast so the region sums
# match the region model:  f̂_n = f_region · f_n / Σ_region f_n.
#
# All calendar arithmetic is INTEGER month keys (year·12+month) — no
# engine interval/date functions in the logic; revenues are exact cents;
# shares and the reconciled values are the only doubles. One fact pass to
# (nation, month) cells; everything after is hierarchy-sized.
@register(
    "q248_forecast_reconcile",
    tags=("timeseries", "forecast", "hierarchy"),
    oracle="""
        WITH monthly AS (
          SELECT n.n_name AS nation, r.r_name AS region,
                 CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                      AS BIGINT) AS mk,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          GROUP BY 1, 2, 3
        ),
        tgt AS (SELECT MAX(mk) + 1 AS t FROM monthly),
        nat AS (
          SELECT nation, MIN(region) AS region,
                 CAST(COALESCE(SUM(CASE WHEN monthly.mk = tgt.t - 12
                                        THEN cents END), 0) AS BIGINT)
                   AS f_nat_cents
          FROM monthly CROSS JOIN tgt GROUP BY nation
        ),
        reg AS (
          SELECT region,
                 CAST(SUM(CASE WHEN monthly.mk >= tgt.t - 3
                                AND monthly.mk <= tgt.t - 1
                               THEN cents ELSE 0 END) AS BIGINT) AS trail3
          FROM monthly CROSS JOIN tgt GROUP BY region
        ),
        regshare AS (
          SELECT nat.nation, nat.region, nat.f_nat_cents,
                 reg.trail3,
                 CAST(SUM(nat.f_nat_cents) OVER (PARTITION BY nat.region)
                      AS BIGINT) AS reg_seasonal
          FROM nat JOIN reg ON nat.region = reg.region
        )
        SELECT nation, region,
               CAST(f_nat_cents AS DOUBLE) / 100.0 AS f_nation_naive,
               CAST(trail3 AS DOUBLE) / 300.0 AS f_region_trail3,
               CASE WHEN reg_seasonal > 0
                    THEN CAST(f_nat_cents AS DOUBLE) / reg_seasonal
                    ELSE 0.0 END AS share,
               CASE WHEN reg_seasonal > 0
                    THEN (CAST(trail3 AS DOUBLE) / 300.0)
                         * (CAST(f_nat_cents AS DOUBLE) / reg_seasonal)
                    ELSE 0.0 END AS f_reconciled
        FROM regshare
    """,
)
def q248_forecast_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down reconciliation of nation seasonal-naive forecasts to the
    region trailing-3-month model (see block comment — integer month keys,
    exact cents, hierarchy-sized relations after one fact pass)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mk"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tgt = monthly.agg((F.max("mk") + 1).alias("t"))
    nat = (
        monthly.crossJoin(F.broadcast(tgt))
        .groupBy("nation")
        .agg(
            F.min("region").alias("region"),
            F.coalesce(
                F.sum(F.when(F.col("mk") == F.col("t") - 12, F.col("cents"))),
                F.lit(0),
            ).cast("bigint").alias("f_nat_cents"),
        )
    )
    reg = (
        monthly.crossJoin(F.broadcast(tgt))
        .groupBy("region")
        .agg(
            F.sum(
                F.when(
                    (F.col("mk") >= F.col("t") - 3)
                    & (F.col("mk") <= F.col("t") - 1),
                    F.col("cents"),
                ).otherwise(0)
            ).cast("bigint").alias("trail3")
        )
    )
    regshare = nat.join(F.broadcast(reg), "region").select(
        "nation",
        "region",
        "f_nat_cents",
        "trail3",
        F.sum("f_nat_cents")
        .over(W.partitionBy("region"))
        .cast("bigint")
        .alias("reg_seasonal"),
    )
    return regshare.selectExpr(
        "nation",
        "region",
        "CAST(f_nat_cents AS DOUBLE) / 100.0 AS f_nation_naive",
        "CAST(trail3 AS DOUBLE) / 300.0 AS f_region_trail3",
        "CASE WHEN reg_seasonal > 0"
        " THEN CAST(f_nat_cents AS DOUBLE) / reg_seasonal"
        " ELSE 0.0 END AS share",
        "CASE WHEN reg_seasonal > 0"
        " THEN (CAST(trail3 AS DOUBLE) / 300.0)"
        "      * (CAST(f_nat_cents AS DOUBLE) / reg_seasonal)"
        " ELSE 0.0 END AS f_reconciled",
    )


# ---------------------------------------------------------------------------
# q249 — rolling 30-day regression slope (local trend estimation)
# ---------------------------------------------------------------------------
# q161 fits ONE robust trend to the whole series; operations wants the
# LOCAL trend: the OLS slope over a trailing 30-day window, per day — the
# "is this metric accelerating right now" readout. All five moment sums
# (n, Σx, Σy, Σxy, Σxx) are integer window sums over the series-length
# relation (q223 posture), so the closed-form slope/intercept are closing
# expressions on exact inputs — a rolling regression with zero per-window
# refits.
_ROLL_REG_W = 30


@register(
    "q249_rolling_regression",
    tags=("timeseries", "regression", "window"),
    oracle=f"""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (SELECT unnest(range(0, span + 1)) AS day FROM bounds),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
          FROM orders o CROSS JOIN bounds b GROUP BY 1
        ),
        series AS (
          SELECT d.day, COALESCE(r.y, 0) AS y
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        mom AS (
          SELECT day,
                 COUNT(*) OVER w AS n,
                 SUM(day) OVER w AS sx,
                 SUM(y) OVER w AS sy,
                 SUM(day * y) OVER w AS sxy,
                 SUM(day * day) OVER w AS sxx
          FROM series
          WINDOW w AS (ORDER BY day ROWS BETWEEN {_ROLL_REG_W - 1} PRECEDING
                       AND CURRENT ROW)
        )
        SELECT day,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 AS slope_per_day,
               (CAST(sy AS DOUBLE)
                - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                  * sx) / n AS intercept
        FROM mom WHERE n = {_ROLL_REG_W}
    """,
)
def q249_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day OLS slope and intercept of daily revenue, per day —
    integer moment windows, closed-form coefficients (see block comment)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(F.explode(F.expr("sequence(0, span)")).alias("day"))
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("y"),
        )
        .groupBy("day")
        .agg(F.sum("y").cast("bigint").alias("y"))
    )
    series = days.join(rev, "day", "left").select(
        "day", F.coalesce("y", F.lit(0)).alias("y")
    ).localCheckpoint(eager=False)  # lazy cut: moment windows reuse
    w = W.orderBy("day").rowsBetween(-(_ROLL_REG_W - 1), 0)
    mom = series.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("day").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("day") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(w).alias("sxx"),
    )
    return mom.where(F.col("n") == _ROLL_REG_W).selectExpr(
        "day",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " AS slope_per_day",
        "(CAST(sy AS DOUBLE)"
        " - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        "    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
        "   * sx) / n AS intercept",
    )


# ---------------------------------------------------------------------------
# q256 — rolling-origin backtest (forecast cross-validation)
# ---------------------------------------------------------------------------
# q192 scores ONE forecast origin; honest forecast evaluation re-fits at
# several origins and aggregates — rolling-origin cross-validation. For
# each of the last 6 month origins, the seasonal-naive forecast (same
# month, prior year) per nation is scored against the actual; the output
# is per-origin WAPE and bias — the stability view that catches a model
# that only looked good on one month. Integer month keys (q248), exact
# cents, WAPE as a ratio of exact integer sums.
_RO_FOLDS = 6


@register(
    "q256_rolling_origin_backtest",
    tags=("timeseries", "forecast", "backtest"),
    oracle=f"""
        WITH monthly AS (
          SELECT n.n_name AS nation,
                 CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                      AS BIGINT) AS mk,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY 1, 2
        ),
        mx AS (SELECT MAX(mk) AS mmax FROM monthly),
        folds AS (
          SELECT unnest(range(0, {_RO_FOLDS})) AS fold
        ),
        eval_ AS (
          SELECT f.fold, mx.mmax - f.fold AS target_mk
          FROM folds f CROSS JOIN mx
        ),
        joined AS (
          SELECT e.fold, e.target_mk, a.nation,
                 a.cents AS actual,
                 COALESCE(p.cents, 0) AS forecast
          FROM eval_ e
          JOIN monthly a ON a.mk = e.target_mk
          LEFT JOIN monthly p
            ON p.nation = a.nation AND p.mk = e.target_mk - 12
        )
        SELECT CAST(fold AS BIGINT) AS fold,
               CAST(target_mk AS BIGINT) AS target_mk,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               CAST(SUM(abs(forecast - actual)) AS DOUBLE)
                 / CAST(SUM(actual) AS DOUBLE) AS wape,
               CAST(SUM(forecast - actual) AS DOUBLE)
                 / CAST(SUM(actual) AS DOUBLE) AS bias
        FROM joined GROUP BY fold, target_mk
    """,
)
def q256_rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive WAPE/bias at each of the last 6 month origins —
    rolling-origin forecast cross-validation (see block comment)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mk"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    mx = monthly.agg(F.max("mk").alias("mmax"))
    folds = spark.range(_RO_FOLDS).select(F.col("id").alias("fold"))
    eval_ = F.broadcast(folds).crossJoin(F.broadcast(mx)).select(
        "fold", (F.col("mmax") - F.col("fold")).alias("target_mk")
    )
    actual = monthly.selectExpr("nation", "mk", "cents AS actual")
    prior = monthly.selectExpr(
        "nation AS p_nation", "mk AS p_mk", "cents AS forecast"
    )
    joined = (
        eval_.join(actual, actual.mk == eval_.target_mk)
        .join(
            prior,
            (F.col("p_nation") == F.col("nation"))
            & (F.col("p_mk") == F.col("target_mk") - 12),
            "left",
        )
        .select(
            "fold",
            "target_mk",
            "nation",
            "actual",
            F.coalesce("forecast", F.lit(0)).alias("forecast"),
        )
    )
    return joined.groupBy("fold", "target_mk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        (
            F.sum(F.abs(F.col("forecast") - F.col("actual"))).cast("double")
            / F.sum("actual").cast("double")
        ).alias("wape"),
        (
            F.sum(F.col("forecast") - F.col("actual")).cast("double")
            / F.sum("actual").cast("double")
        ).alias("bias"),
    ).select(
        F.col("fold").cast("bigint").alias("fold"),
        F.col("target_mk").cast("bigint").alias("target_mk"),
        "n_nations",
        "wape",
        "bias",
    )


# ---------------------------------------------------------------------------
# q257 — DTW distance matrix between nation revenue series
# ---------------------------------------------------------------------------
# Time-series clustering needs a warping-tolerant distance: dynamic time
# warping aligns two monthly revenue curves that move alike but shifted.
# DTW is an O(T²) DP with no SQL form — the sequential boundary again
# (q246/q251 pattern): the DISTRIBUTED part reduces facts to 25 monthly
# series (collect_list ordered by month key inside the array — q224's
# ordered-assembly discipline), pairs come from a self-join on nation
# name (a < b — 300 pairs, vocabulary-sized), and the DP runs per pair in
# mapInPandas over ~80-point z-normalized arrays.
def _dtw_znorm(vs: list) -> list:
    """Exact-order z-normalization (hash-graded since r11): the integer
    series' sums are computed in exact int arithmetic, so mean and
    variance reach IEEE doubles through single correctly-rounded
    operations — float(S)/float(n), float(n·SS − S²)/float(n²), sqrt —
    that a SQL oracle replays bit-for-bit (numpy's pairwise-summed
    mean/std could not be). Same statistic, replayable rounding."""
    import math

    ints = [int(x) for x in vs]
    n = len(ints)
    s = sum(ints)
    ss = sum(x * x for x in ints)
    mean = float(s) / float(n)
    std = math.sqrt(float(n * ss - s * s) / float(n * n)) or 1.0
    return [(float(x) - mean) / std for x in ints]


def _dtw_batch(batches):
    def dtw(a, b):
        na, nb = len(a), len(b)
        inf = float("inf")
        prev = [0.0] + [inf] * nb
        for i in range(1, na + 1):
            cur = [inf] * (nb + 1)
            for j in range(1, nb + 1):
                d = abs(a[i - 1] - b[j - 1])
                cur[j] = d + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        return prev[nb]

    for pdf in batches:
        out = pdf[["nation_a", "nation_b"]].copy()
        out["dtw"] = [
            dtw(_dtw_znorm(sa), _dtw_znorm(sb))
            for sa, sb in zip(pdf["series_a"], pdf["series_b"])
        ]
        yield out


# Hash-graded since r11 (rows-only r4-r11a). The old adjudication ("no
# bit-exact oracle is POSSIBLE") confused reassociation with replay: each
# DP cell is a pure function of its three neighbors — d + min(...) has NO
# addition tree to reassociate — so an oracle that computes the cells in
# ANY order with the same per-cell operands reproduces every double
# exactly. The recursive CTE below replays the cells row-major through a
# rolling (nb+2)-cell buffer: B[1]=(i-1,j-1), B[2]=(i-1,j),
# B[nb+2]=(i,j-1); boundary columns are the 'infinity' steps. The one
# REAL blocker was numpy's pairwise-summed mean/std in the
# z-normalization — fixed by _dtw_znorm's exact-int redesign (single
# correctly-rounded divisions + IEEE sqrt), after which a 300/300
# repr()-identical pre-flight held at sf0.01. `pairs AS MATERIALIZED` is
# load-bearing: without it DuckDB re-evaluates the monthly aggregation
# every one of the ~7300 recursion steps (161s → 17s measured). The
# oracle's cost is sf-INDEPENDENT on the DP axis (series length = the
# fixed month range, pairs = nations²).
_Q257_ORACLE = """
WITH RECURSIVE pairs AS MATERIALIZED (
  WITH monthly AS (
    SELECT n.n_name AS nation,
           CAST(year(CAST(o.o_orderdate AS DATE)) * 12
                + month(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS mk,
           SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS v
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
  ), series AS (
    SELECT nation, list(v ORDER BY mk) AS vs FROM monthly GROUP BY nation
  ), stats AS (
    SELECT nation, len(vs) AS n,
           list_aggregate(vs, 'sum') AS s,
           list_aggregate(list_transform(vs, x -> CAST(x AS HUGEINT) * x),
                          'sum') AS ss
    FROM series
  ), zed AS (
    SELECT s0.nation,
           list_transform(s0.vs, x -> (CAST(x AS DOUBLE) - m.mean) / m.std)
             AS z
    FROM series s0 JOIN (
      SELECT nation,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CASE WHEN sqrt(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / CAST(n * n AS DOUBLE)) = 0.0 THEN 1.0
                  ELSE sqrt(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / CAST(n * n AS DOUBLE)) END AS std
      FROM stats
    ) m USING (nation)
  )
  SELECT row_number() OVER (ORDER BY a.nation, b.nation) AS pid,
         a.nation AS nation_a, b.nation AS nation_b,
         a.z AS aa, b.z AS bb, len(a.z) AS na, len(b.z) AS nb
  FROM zed a JOIN zed b ON a.nation < b.nation
), dp AS (
  SELECT pid, 0 AS t,
         list_concat([CAST(0.0 AS DOUBLE)],
                     list_transform(range(nb + 1),
                                    x -> CAST('infinity' AS DOUBLE))) AS buf
  FROM pairs
  UNION ALL
  SELECT dp.pid, dp.t + 1,
    CASE WHEN (dp.t + p.nb + 2) % (p.nb + 1) = 0
      THEN list_append(dp.buf[2:], CAST('infinity' AS DOUBLE))
      ELSE list_append(dp.buf[2:],
        abs(p.aa[CAST((dp.t + p.nb + 2) // (p.nb + 1) AS INTEGER)]
            - p.bb[CAST((dp.t + p.nb + 2) % (p.nb + 1) AS INTEGER)])
        + least(dp.buf[1], dp.buf[2], dp.buf[p.nb + 2])) END
  FROM dp JOIN pairs p USING (pid)
  WHERE dp.t < p.na * (p.nb + 1) - 1
)
SELECT p.nation_a, p.nation_b, d.buf[p.nb + 2] AS dtw
FROM dp d JOIN pairs p USING (pid)
WHERE d.t = p.na * (p.nb + 1) - 1
"""


@register(
    "q257_dtw_distance",
    tags=("timeseries", "dtw", "udf"),
    oracle=_Q257_ORACLE,
)
def q257_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance for every nation pair over z-normalized monthly revenue
    series — distributed series assembly, per-pair DP in mapInPandas (see
    block comment)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("mk"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("bigint")).alias("v")
        )
    )
    series = monthly.groupBy("nation").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(mk, v))), x -> x.v)"
        ).alias("series")
    )
    a = series.selectExpr("nation AS nation_a", "series AS series_a")
    b = series.selectExpr("nation AS nation_b", "series AS series_b")
    # broadcast the 25-row side: the inequality pair join plans as a
    # BroadcastNestedLoopJoin over vocabulary-sized relations, never a
    # CartesianProduct over facts
    pairs = a.join(F.broadcast(b), F.col("nation_a") < F.col("nation_b"))
    schema = T.StructType(
        [
            T.StructField("nation_a", T.StringType()),
            T.StructField("nation_b", T.StringType()),
            T.StructField("dtw", T.DoubleType()),
        ]
    )
    return pairs.mapInPandas(_dtw_batch, schema)


# ---------------------------------------------------------------------------
# q266 — hysteresis alerting (two-threshold alarm with closed-form state)
# ---------------------------------------------------------------------------
# Single-threshold alerts flap when the metric hovers at the line; control
# practice uses HYSTERESIS: arm when the series crosses the high
# watermark, disarm only below the low watermark. The alarm state at time
# t looks sequential, but it has a closed form — the state is simply the
# DIRECTION OF THE LAST CROSSING:
#     state(t) = 1 if the most recent sample outside (lo, hi) was ≥ hi
# which is last_value(crossing, ignorenulls) over time (q215's
# closed-form-over-windows discipline). Thresholds are the p90/p70 of the
# daily series (exact percentiles, scalar broadcast); comparisons are
# integer-vs-percentile (both engines interpolate identical integers).
@register(
    "q266_hysteresis_alerts",
    tags=("timeseries", "alerting", "window"),
    oracle="""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (SELECT unnest(range(0, span + 1)) AS day FROM bounds),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS v
          FROM orders o CROSS JOIN bounds b GROUP BY 1
        ),
        series AS (
          SELECT d.day, COALESCE(r.v, 0) AS v
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        th AS (
          SELECT quantile_cont(v, 0.9) AS hi, quantile_cont(v, 0.7) AS lo
          FROM series
        ),
        crossings AS (
          SELECT s.day, s.v, t.hi, t.lo,
                 CASE WHEN s.v >= t.hi THEN 1
                      WHEN s.v <= t.lo THEN 0 END AS crossing
          FROM series s CROSS JOIN th t
        ),
        state AS (
          SELECT day, v, hi, lo,
                 COALESCE(LAST_VALUE(crossing IGNORE NULLS) OVER
                   (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS armed
          FROM crossings
        ),
        onsets AS (
          SELECT armed, hi, lo,
                 CASE WHEN armed = 1 AND
                       COALESCE(LAG(armed) OVER (ORDER BY day), 0) = 0
                      THEN 1 ELSE 0 END AS onset
          FROM state
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(armed) AS BIGINT) AS days_armed,
               CAST(SUM(onset) AS BIGINT) AS n_alerts,
               MIN(hi) AS hi_threshold, MIN(lo) AS lo_threshold
        FROM onsets
    """,
)
def q266_hysteresis_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold hysteresis alarm over daily revenue — state is the
    direction of the last watermark crossing (last_value ignorenulls
    closed form); emits armed-day and alert-onset counts (see block
    comment)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(F.explode(F.expr("sequence(0, span)")).alias("day"))
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round("o_totalprice").cast("bigint").alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").cast("bigint").alias("v"))
    )
    series = days.join(rev, "day", "left").select(
        "day", F.coalesce("v", F.lit(0)).alias("v")
    ).localCheckpoint(eager=False)  # lazy cut: threshold probe + alarm scan reuse
    th = series.agg(
        F.expr("percentile(v, 0.9)").alias("hi"),
        F.expr("percentile(v, 0.7)").alias("lo"),
    )
    crossings = series.crossJoin(F.broadcast(th)).select(
        "day",
        "v",
        "hi",
        "lo",
        F.when(F.col("v") >= F.col("hi"), 1)
        .when(F.col("v") <= F.col("lo"), 0)
        .alias("crossing"),
    )
    wseq = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    state = crossings.select(
        "day",
        "hi",
        "lo",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(wseq), F.lit(0)
        ).alias("armed"),
    )
    wl = W.orderBy("day")
    onsets = state.select(
        "armed",
        "hi",
        "lo",
        F.when(
            (F.col("armed") == 1)
            & (F.coalesce(F.lag("armed").over(wl), F.lit(0)) == 0),
            1,
        ).otherwise(0).alias("onset"),
    )
    return onsets.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("armed").cast("bigint").alias("days_armed"),
        F.sum("onset").cast("bigint").alias("n_alerts"),
        F.min("hi").alias("hi_threshold"),
        F.min("lo").alias("lo_threshold"),
    )


# ---------------------------------------------------------------------------
# q269 — Viterbi: most probable 3-step behavioral path to purchase
# ---------------------------------------------------------------------------
# q225 computes absorption PROBABILITY (sum-product over the transition
# matrix); product teams also want the PATH — the single most likely
# 3-step route from each state into 'purchase'. That is the same ladder
# in the MAX-product semiring (Viterbi): per round keep, for each state,
# the best continuation's probability and its path string. Probabilities
# are integer nano-units; per-round products renormalize by /1e9 with
# ROUND (deterministic); argmax packs (prob, path) into max_by with the
# path as an unambiguous dash-joined string and a lexicographic tie-break
# via md5-free string compare — identical on both engines.
def _vit_round(prev_p: str, prev_path: str) -> tuple[str, str]:
    """One Viterbi round: best = argmax over edges of pn·prev (absorbed
    edges to the target carry prob 1 and terminate the path)."""
    score = (
        f"CAST(ROUND(CAST(pn AS DOUBLE) * (CASE WHEN y = '{_ABSORB_TARGET}' "
        f"THEN CAST({_ABS_N} AS BIGINT) ELSE COALESCE({prev_p}, CAST(0 AS BIGINT)) END) "
        f"/ {_ABS_N}.0) AS BIGINT)"
    )
    path = (
        f"CASE WHEN y = '{_ABSORB_TARGET}' THEN '{_ABSORB_TARGET}' "
        f"ELSE concat(y, '-', COALESCE({prev_path}, '?')) END"
    )
    return score, path


@register(
    "q269_viterbi_path",
    tags=("timeseries", "markov", "viterbi"),
    oracle=f"""
        WITH trans AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
                 event_type AS y
          FROM events
        ),
        counts AS (
          SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
          FROM trans WHERE x IS NOT NULL GROUP BY x, y
        ),
        totals AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM counts GROUP BY x),
        p AS (
          SELECT c.x, c.y,
                 CAST(ROUND({_ABS_N}.0 * c.cxy / t.cx) AS BIGINT) AS pn
          FROM counts c JOIN totals t ON c.x = t.x
        ),
        v1 AS (
          SELECT x,
                 CAST(MAX({_vit_round('NULL', 'NULL')[0]}) AS BIGINT) AS bp,
                 max_by({_vit_round('NULL', 'NULL')[1]},
                        concat(lpad(CAST({_vit_round('NULL', 'NULL')[0]} AS VARCHAR), 19, '0'), '|', {_vit_round('NULL', 'NULL')[1]})) AS path
          FROM p GROUP BY x
        ),
        v2 AS (
          SELECT p.x,
                 CAST(MAX({_vit_round('hp.bp', 'hp.path')[0]}) AS BIGINT) AS bp,
                 max_by({_vit_round('hp.bp', 'hp.path')[1]},
                        concat(lpad(CAST({_vit_round('hp.bp', 'hp.path')[0]} AS VARCHAR), 19, '0'), '|', {_vit_round('hp.bp', 'hp.path')[1]})) AS path
          FROM p LEFT JOIN v1 hp ON p.y = hp.x GROUP BY p.x
        ),
        v3 AS (
          SELECT p.x,
                 CAST(MAX({_vit_round('hp.bp', 'hp.path')[0]}) AS BIGINT) AS bp,
                 max_by({_vit_round('hp.bp', 'hp.path')[1]},
                        concat(lpad(CAST({_vit_round('hp.bp', 'hp.path')[0]} AS VARCHAR), 19, '0'), '|', {_vit_round('hp.bp', 'hp.path')[1]})) AS path
          FROM p LEFT JOIN v2 hp ON p.y = hp.x GROUP BY p.x
        )
        SELECT v3.x AS state,
               concat(v3.x, '-', v3.path) AS best_path,
               CAST(v3.bp AS DOUBLE) / {_ABS_N}.0 AS path_prob
        FROM v3
    """,
)
def q269_viterbi_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most probable 3-step path from each behavioral state into purchase —
    q225's ladder in the max-product semiring with path tracking (see
    block comment)."""
    ev = load_table(spark, sf_dir, "events")
    trans = ev.select(
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("x"),
        F.col("event_type").alias("y"),
    ).where(F.col("x").isNotNull())
    # lazy cut: the 25-row transition matrix is re-joined every unrolled
    # round; without it each round re-derives the full events scan + lag
    # window (plan audit showed 6-18 event scans per run)
    counts = trans.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("cxy")
    ).localCheckpoint(eager=False)
    totals = counts.groupBy("x").agg(F.sum("cxy").cast("bigint").alias("cx"))
    p = counts.join(F.broadcast(totals), "x").selectExpr(
        "x", "y", f"CAST(ROUND({_ABS_N}.0 * cxy / cx) AS BIGINT) AS pn"
    )
    v = None
    for _ in range(3):
        if v is None:
            joined = p.withColumn("bp", F.lit(None).cast("bigint")).withColumn(
                "vpath", F.lit(None).cast("string")
            )
            score, path = _vit_round("NULL", "NULL")
        else:
            joined = p.join(
                F.broadcast(
                    v.selectExpr("x AS y", "bp", "path AS vpath")
                ),
                "y",
                "left",
            )
            score, path = _vit_round("bp", "vpath")
        v = joined.groupBy("x").agg(
            F.expr(f"CAST(MAX({score}) AS BIGINT)").alias("bp"),
            F.expr(
                f"max_by({path}, concat(lpad(CAST({score} AS STRING),"
                f" 19, '0'), '|', {path}))"
            ).alias("path"),
        )
    return v.selectExpr(
        "x AS state",
        "concat(x, '-', path) AS best_path",
        f"CAST(bp AS DOUBLE) / {_ABS_N}.0 AS path_prob",
    )


# ---------------------------------------------------------------------------
# q272 — revenue recognition: prorate order value across service months
# ---------------------------------------------------------------------------
# Accounting-grade proration: an order's value is recognized uniformly
# over its service window (order date → last line shipment), split by
# calendar month — the deferred-revenue schedule. Per order the month
# explode is bounded by the service span; the per-month share is
#     ROUND(cents · overlap_days / span_days)
# an integer, so monthly totals are exact BIGINT sums (per-order rounding
# residue ≤ months/2 cents, documented). Month enumeration uses integer
# month keys + make_date/last_day — both engines share the proleptic
# Gregorian calendar.
@register(
    "q272_revenue_proration",
    tags=("timeseries", "finance", "interval"),
    oracle="""
        WITH spans AS (
          SELECT o.o_orderkey,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
                 CAST(o.o_orderdate AS DATE) AS s,
                 -- clamp: synthetic shipdates can precede the order date
                 greatest(MAX(CAST(l.l_shipdate AS DATE)),
                          CAST(o.o_orderdate AS DATE)) AS e
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY o.o_orderkey, o.o_totalprice, o.o_orderdate
        ),
        months AS (
          SELECT sp.o_orderkey, sp.cents, sp.s, sp.e,
                 date_diff('day', sp.s, sp.e) + 1 AS span,
                 u.mk
          FROM spans sp,
               UNNEST(range(CAST(year(sp.s) * 12 + month(sp.s) - 1 AS BIGINT),
                            CAST(year(sp.e) * 12 + month(sp.e) AS BIGINT)))
                 AS u(mk)
        ),
        ovm AS (
          SELECT mk, cents, span,
                 date_diff('day',
                   greatest(s, make_date(CAST(mk // 12 AS INTEGER),
                                         CAST(mk % 12 + 1 AS INTEGER), 1)),
                   least(e, last_day(make_date(CAST(mk // 12 AS INTEGER),
                                               CAST(mk % 12 + 1 AS INTEGER), 1))))
                 + 1 AS ov
          FROM months
        )
        SELECT CAST(mk AS BIGINT) AS month_key,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(CAST(cents AS DOUBLE) * ov / span)
                             AS BIGINT)) AS DOUBLE) / 100.0
                 AS recognized_revenue
        FROM ovm GROUP BY mk
    """,
)
def q272_revenue_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly recognized revenue with per-order uniform proration over the
    order→last-shipment window (see block comment — integer month keys,
    exact cent sums)."""
    o = load_table(spark, sf_dir, "orders")
    # spread_key: ×1.67 at local[4], ×1.50 at local[8] (SCALING.md "Knob sites")
    # r16 note: an aggregate-before-join rewrite (max shipdate per order
    # from lineitem alone, then join orders) was implemented and measured
    # a ×1.2 LOSS fresh at sf0.1 — the join-then-group shape below already
    # shares the join's orderkey exchange with the groupBy (guide §2.4),
    # so the rewrite only added a hash-agg pass for a 4:1 row reduction.
    li = load_table(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice", "o_orderdate")
        .agg(
            F.greatest(
                F.max(F.col("l_shipdate").cast("date")),
                F.col("o_orderdate").cast("date"),
            ).alias("e")  # clamp: synthetic shipdates can precede the order
        )
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.col("o_orderdate").cast("date").alias("s"),
            "e",
        )
    )
    months = spans.select(
        "cents",
        "s",
        "e",
        (F.datediff("e", "s") + 1).alias("span"),
        F.explode(
            F.expr(
                "sequence(CAST(year(s) * 12 + month(s) - 1 AS BIGINT),"
                " CAST(year(e) * 12 + month(e) - 1 AS BIGINT))"
            )
        ).alias("mk"),
    )
    overlaps = months.selectExpr(
        "mk",
        "cents",
        "span",
        "datediff("
        " least(e, last_day(make_date(CAST(mk div 12 AS INT),"
        "                             CAST(mk % 12 + 1 AS INT), 1))),"
        " greatest(s, make_date(CAST(mk div 12 AS INT),"
        "                       CAST(mk % 12 + 1 AS INT), 1))) + 1 AS ov",
    )
    return overlaps.groupBy(F.col("mk").cast("bigint").alias("month_key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (
            F.sum(
                F.expr(
                    "CAST(ROUND(CAST(cents AS DOUBLE) * ov / span) AS BIGINT)"
                )
            ).cast("double")
            / 100.0
        ).alias("recognized_revenue"),
    )


# ---------------------------------------------------------------------------
# q289 — double-fire detector: same user, same type, seconds apart
# ---------------------------------------------------------------------------
# The idempotency audit every event pipeline ships: a client retry or an
# at-least-once producer fires the same logical action twice — same user,
# same event type, seconds apart. The scalable shape is an EQUI-join on
# the natural key (user, type) with the time window as a post-predicate —
# candidates are key-collision bounded, never a time-range cross join
# (q34's discipline). Pairs are oriented (earlier → later, tie-broken by
# event id) so each suspected double-fire appears exactly once, with its
# gap in integer seconds and the amount delta in cents (a true retry has
# delta 0 or near it — the triage column).
_DF_WINDOW_S = 300


@register(
    "q289_double_fire_detector",
    tags=("quality", "idempotency", "join"),
    oracle=f"""
        WITH ev AS (
          SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        pairs AS (
          SELECT a.user_id, a.event_type,
                 a.event_id AS first_event, b.event_id AS second_event,
                 (b.t_us - a.t_us) // 1000000 AS gap_s,
                 abs(b.cents - a.cents) AS delta_cents
          FROM ev a JOIN ev b
            ON a.user_id = b.user_id AND a.event_type = b.event_type
           AND (a.t_us < b.t_us
                OR (a.t_us = b.t_us AND a.event_id < b.event_id))
          WHERE b.t_us - a.t_us <= {_DF_WINDOW_S} * 1000000
        )
        SELECT user_id, event_type, first_event, second_event,
               CAST(gap_s AS BIGINT) AS gap_s,
               CAST(delta_cents AS BIGINT) AS delta_cents
        FROM pairs
    """,
)
def q289_double_fire_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspected double-fires: same user and event type within 5 minutes —
    natural-key equi-join with a time post-predicate, amount delta as the
    triage column (see block comment)."""
    evt = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    a, b = evt.alias("a"), evt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (
                (F.col("a.t_us") < F.col("b.t_us"))
                | (
                    (F.col("a.t_us") == F.col("b.t_us"))
                    & (F.col("a.event_id") < F.col("b.event_id"))
                )
            ),
        )
        .where(
            F.col("b.t_us") - F.col("a.t_us") <= _DF_WINDOW_S * 1000000
        )
        .selectExpr(
            "a.user_id AS user_id",
            "a.event_type AS event_type",
            "a.event_id AS first_event",
            "b.event_id AS second_event",
            "CAST((b.t_us - a.t_us) div 1000000 AS BIGINT) AS gap_s",
            "CAST(abs(b.cents - a.cents) AS BIGINT) AS delta_cents",
        )
    )


# ---------------------------------------------------------------------------
# q291 — frequency-capping simulation (policy what-if on the event stream)
# ---------------------------------------------------------------------------
# Before shipping a "max N events per user per day" cap, product wants
# the blast radius: how many events would the cap have suppressed, for
# whom, and what share of volume? The simulation is one rank window per
# (user, day) — event k>N is suppressed — and the readout aggregates by
# day. A policy change priced without ever running it; the same window
# with N as a parameter grid would price alternatives in one pass.
_FC_CAP = 5  # max events per user per day


@register(
    "q291_frequency_capping",
    tags=("policy", "simulation", "window"),
    oracle=f"""
        WITH ranked AS (
          SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                 user_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id,
                                    epoch_us(ts) // 86400000000
                                    ORDER BY ts, event_id) AS k
          FROM events
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN k > {_FC_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_suppressed,
               CAST(COUNT(DISTINCT CASE WHEN k > {_FC_CAP} THEN user_id END)
                    AS BIGINT) AS n_users_capped,
               CAST(SUM(CASE WHEN k > {_FC_CAP} THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS suppressed_share
        FROM ranked GROUP BY day
    """,
)
def q291_frequency_capping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily blast radius of a 5-events-per-user-per-day cap — one rank
    window per (user, day), aggregated per day (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / 86400000000).cast("bigint")
    ranked = ev.select(
        day.alias("day"),
        "user_id",
        F.row_number().over(
            W.partitionBy(
                "user_id", F.floor(F.unix_micros("ts") / 86400000000)
            ).orderBy("ts", "event_id")
        ).alias("k"),
    )
    return ranked.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("k") > _FC_CAP, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppressed"),
        F.countDistinct(
            F.when(F.col("k") > _FC_CAP, F.col("user_id"))
        ).cast("bigint").alias("n_users_capped"),
        (
            F.sum(F.when(F.col("k") > _FC_CAP, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("suppressed_share"),
    )


# ---------------------------------------------------------------------------
# q296 — watermark advisor: out-of-orderness profile of the event stream
# ---------------------------------------------------------------------------
# Every watermark in the streaming module is a guess unless someone has
# measured how late events actually arrive. Taking event_id as the
# ingestion sequence, an event's lateness is
#     running_max(event_time in arrival order) − its event_time.
# The scale-correct prefix-max is BLOCKED (the q234/q223 discipline
# applied to arrival order): a per-block window computes within-block
# prefix maxima, block-level maxima roll up on the tiny block relation,
# and the cross-block prefix joins back broadcast — the full stream never
# passes through one task. Output: lateness percentiles + the suggested
# watermark (p99 rounded up to the minute).
_WM_BLOCK = 1000  # arrival-sequence block size


@register(
    "q296_watermark_advisor",
    bench=True,
    tags=("streaming", "watermark", "design"),
    oracle=f"""
        WITH arr AS (
          SELECT event_id, event_id // {_WM_BLOCK} AS blk,
                 epoch_us(ts) AS t_us
          FROM events
        ),
        inblock AS (
          SELECT event_id, blk, t_us,
                 MAX(t_us) OVER (PARTITION BY blk ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS pmax_in
          FROM arr
        ),
        blocks AS (
          SELECT blk, MAX(t_us) AS bmax FROM arr GROUP BY blk
        ),
        prevmax AS (
          SELECT blk,
                 MAX(bmax) OVER (ORDER BY blk
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS pmax_prev
          FROM blocks
        ),
        lateness AS (
          SELECT greatest(COALESCE(p.pmax_prev, i.pmax_in), i.pmax_in)
                   - i.t_us AS late_us
          FROM inblock i JOIN prevmax p ON i.blk = p.blk
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_late,
               quantile_cont(late_us, 0.5) / 1000000.0 AS p50_lateness_s,
               quantile_cont(late_us, 0.95) / 1000000.0 AS p95_lateness_s,
               quantile_cont(late_us, 0.99) / 1000000.0 AS p99_lateness_s,
               CAST(CEIL(quantile_cont(late_us, 0.99) / 60000000.0) AS BIGINT)
                 AS suggested_watermark_min
        FROM lateness
    """,
)
def q296_watermark_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event lateness (arrival order = event_id) via blocked prefix-max,
    with percentile profile and the p99-derived watermark suggestion (see
    block comment — the stream never funnels through one task)."""
    ev = load_table(spark, sf_dir, "events")
    arr = ev.select(
        "event_id",
        F.expr(f"event_id div {_WM_BLOCK}").alias("blk"),
        F.unix_micros("ts").alias("t_us"),
    )
    win = W.partitionBy("blk").orderBy("event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    inblock = arr.withColumn("pmax_in", F.max("t_us").over(win))
    blocks = arr.groupBy("blk").agg(F.max("t_us").alias("bmax"))
    prevmax = blocks.select(
        "blk",
        F.max("bmax")
        .over(W.orderBy("blk").rowsBetween(W.unboundedPreceding, -1))
        .alias("pmax_prev"),
    )
    lateness = inblock.join(F.broadcast(prevmax), "blk").select(
        (
            F.greatest(
                F.coalesce(F.col("pmax_prev"), F.col("pmax_in")),
                F.col("pmax_in"),
            )
            - F.col("t_us")
        ).alias("late_us")
    )
    # lazy cut: the count pass and the lateness-quantile selection both
    # consume the event-sized lateness relation
    lateness = lateness.localCheckpoint(eager=False)
    # lateness percentiles via the blocked-rank distributed selection:
    # late_us is near-continuous (microseconds), so the builtin
    # `percentile` buffer would hold ~every event — bit-identical, bounded
    # The probe (r10) picks the ranking branch. The synthetic events
    # arrive in order, so late_us is almost all 0 and at sf0.01 the
    # probe picks the cardinality pre-reduce; near-continuous lateness
    # would rank raw rows, one shuffle instead of a no-op reduce
    lq = distributed_quantiles(
        lateness,
        "late_us",
        [0.5, 0.95, 0.99],
        probe_key=f"q296:{sf_dir}",
    )
    counts = lateness.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
    )
    return counts.join(F.broadcast(lq)).selectExpr(
        "n_events",
        "n_late",
        "c[0] / 1000000.0 AS p50_lateness_s",
        "c[1] / 1000000.0 AS p95_lateness_s",
        "c[2] / 1000000.0 AS p99_lateness_s",
        "CAST(CEIL(c[2] / 60000000.0) AS BIGINT) AS suggested_watermark_min",
    )


# ---------------------------------------------------------------------------
# q299 — stationary distribution of the behavioral Markov chain
# ---------------------------------------------------------------------------
# The long-run answer the transition matrix implies: where does a user
# spend their time as the chain mixes? π = πP, computed by 8 unrolled
# power-iteration rounds from the uniform start (q225's integer-nano
# ladder in yet another semiring role; 5 states mix in a handful of
# rounds). Every round is a broadcast join + exact BIGINT products
# renormalized by integer division — partition-invariant by
# construction. Completes the Markov family: q85 matrix, q225
# absorption, q269 Viterbi, q260 baseline, q299 stationary.
_PI_ROUNDS = 8


@register(
    "q299_stationary_distribution",
    tags=("timeseries", "markov", "iterative"),
    oracle=f"""
        WITH RECURSIVE trans AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
                 event_type AS y
          FROM events
        ),
        counts AS (
          SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
          FROM trans WHERE x IS NOT NULL GROUP BY x, y
        ),
        totals AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM counts GROUP BY x),
        p AS (
          SELECT c.x, c.y,
                 CAST(ROUND({_ABS_N}.0 * c.cxy / t.cx) AS BIGINT) AS pn
          FROM counts c JOIN totals t ON c.x = t.x
        ),
        states AS (SELECT x AS s FROM totals),
        n_states AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
        pi AS (
          SELECT 0 AS r, s, CAST({_ABS_N} // k AS BIGINT) AS v
          FROM states CROSS JOIN n_states
          UNION ALL
          SELECT pi.r + 1, p.y AS s,
                 CAST(SUM(pi.v * p.pn) // {_ABS_N} AS BIGINT) AS v
          FROM pi JOIN p ON p.x = pi.s
          WHERE pi.r < {_PI_ROUNDS}
          GROUP BY pi.r + 1, p.y
        )
        SELECT s AS state, CAST(v AS DOUBLE) / {_ABS_N}.0 AS stationary_prob
        FROM pi WHERE r = {_PI_ROUNDS}
    """,
)
def q299_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """π = πP by 8 integer-nano power rounds from uniform.

    The heavy work — the per-user lag window over the full events table
    and the (x, y) transition count — is fully distributed. The transition
    matrix itself lives on the event-type VOCABULARY (≤25 rows at every
    scale factor), so the 8 power rounds run driver-side on the collected
    counts (the q293/q236/q174 allowance, same ceiling + LIMIT sentinel) —
    the previous broadcast ladder paid ~20 driver jobs of pure fixed cost
    on a 25-row relation. Arithmetic is replayed exactly: pn is the same
    left-associative double expression rounded HALF_UP on the exact binary
    value (Decimal), everything after is integer multiply / floor-divide
    on positive bigints — bit-identical to the distributed form and the
    oracle's recursive CTE."""
    ev = load_table(spark, sf_dir, "events")
    trans = ev.select(
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("x"),
        F.col("event_type").alias("y"),
    ).where(F.col("x").isNotNull())
    counts = trans.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("cxy")
    )
    _VOCAB_CEILING = 100  # event-type vocabulary; ~20x the real ≤5
    bound = _VOCAB_CEILING * _VOCAB_CEILING + 1
    rows = counts.limit(bound).collect()
    if len(rows) >= bound:
        raise RuntimeError(
            f"q299: transition-count collect exceeded the vocabulary bound "
            f"(≥{bound} rows) — event_type is no longer vocabulary-sized; "
            "restore the distributed broadcast ladder"
        )
    from decimal import ROUND_HALF_UP, Decimal

    cx: dict = {}
    for r in rows:
        cx[r.x] = cx.get(r.x, 0) + r.cxy
    # pn = ROUND(1e9.0 * cxy / cx): same op order, HALF_UP on the exact
    # binary double (what Spark ROUND and DuckDB ROUND both compute here)
    p = [
        (
            r.x,
            r.y,
            int(
                Decimal((float(_ABS_N) * r.cxy) / cx[r.x]).to_integral_value(
                    rounding=ROUND_HALF_UP
                )
            ),
        )
        for r in rows
    ]
    k = len(cx)
    pi = {s: _ABS_N // k for s in cx}
    for _ in range(_PI_ROUNDS):
        acc: dict = {}
        for x, y, pn in p:
            if x in pi:
                acc[y] = acc.get(y, 0) + pi[x] * pn
        pi = {y: t // _ABS_N for y, t in acc.items()}
    out = [(s, float(v) / float(_ABS_N)) for s, v in sorted(pi.items())]
    return literal_df(spark, out, "state string, stationary_prob double")


# ---------------------------------------------------------------------------
# q304 — dominant period: the ACF ladder and its argmax
# ---------------------------------------------------------------------------
# q188 measures lag-1 persistence; seasonality detection needs the whole
# autocorrelation ladder and its peak. For lags 1..14 the dense daily
# series self-joins at day+lag (exact integer moments per lag — q230's
# machinery pointed at itself), and the dominant period is the argmax of
# quantized ACF over lags ≥ 2 (lag 1 is trend persistence, not a
# period), packed-key tie-broken toward the SHORTER lag. Emits the full
# ladder with the dominant flag.
_ACF_MAX_LAG = 14


@register(
    "q304_dominant_period",
    tags=("timeseries", "acf", "seasonality"),
    oracle=f"""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                 date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                           MAX(CAST(o_orderdate AS DATE))) AS span
          FROM orders
        ),
        days AS (SELECT unnest(range(0, span + 1)) AS day FROM bounds),
        rev AS (
          SELECT date_diff('day', b.d0, CAST(o.o_orderdate AS DATE)) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS v
          FROM orders o CROSS JOIN bounds b GROUP BY 1
        ),
        series AS (
          SELECT d.day, COALESCE(r.v, 0) AS v
          FROM days d LEFT JOIN rev r ON d.day = r.day
        ),
        lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag),
        joined AS (
          SELECT l.lag, a.v AS x, b.v AS y
          FROM lags l
          CROSS JOIN series a
          JOIN series b ON b.day = a.day + l.lag
        ),
        mom AS (
          SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM joined GROUP BY lag
        ),
        acf AS (
          SELECT CAST(lag AS BIGINT) AS lag, n,
                 (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                   AS r
          FROM mom
        ),
        best AS (
          SELECT MAX(CAST(ROUND(1000000000.0 * r) AS BIGINT) * 100
                     + (99 - lag)) AS bkey
          FROM acf WHERE lag >= 2
        )
        SELECT a.lag, a.n, a.r,
               CASE WHEN a.lag >= 2
                     AND CAST(ROUND(1000000000.0 * a.r) AS BIGINT) * 100
                         + (99 - a.lag) = b.bkey
                    THEN 1 ELSE 0 END AS is_dominant
        FROM acf a CROSS JOIN best b
    """,
)
def q304_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..14 over daily revenue with the dominant-period flag
    (quantized argmax, shorter-lag tie-break — see block comment)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span"),
    )
    days = bounds.select(F.explode(F.expr("sequence(0, span)")).alias("day"))
    rev = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.col("d0")).alias("day"),
            F.round("o_totalprice").cast("bigint").alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").cast("bigint").alias("v"))
    )
    # lazy cut: the ~2400-row daily series feeds both sides of the 14-lag
    # self-join and the acf relation is consumed twice (argmax + readout) —
    # without the cut the orders scan re-runs 12x per plan
    series = days.join(rev, "day", "left").select(
        "day", F.coalesce("v", F.lit(0)).alias("v")
    ).localCheckpoint(eager=False)
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    joined = (
        F.broadcast(lags)
        .crossJoin(series.selectExpr("day", "v AS x"))
        .join(
            series.selectExpr("day AS db", "v AS y"),
            F.col("db") == F.col("day") + F.col("lag"),
        )
    )
    mom = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    acf = mom.selectExpr(
        "CAST(lag AS BIGINT) AS lag",
        "n",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        "    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r",
    )
    best = acf.where(F.col("lag") >= 2).agg(
        F.max(
            F.expr(
                "CAST(ROUND(1000000000.0 * r) AS BIGINT) * 100 + (99 - lag)"
            )
        ).alias("bkey")
    )
    return acf.crossJoin(F.broadcast(best)).selectExpr(
        "lag",
        "n",
        "r",
        "CASE WHEN lag >= 2"
        " AND CAST(ROUND(1000000000.0 * r) AS BIGINT) * 100 + (99 - lag)"
        " = bkey THEN 1 ELSE 0 END AS is_dominant",
    )
