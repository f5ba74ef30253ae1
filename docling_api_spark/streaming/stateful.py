"""Custom stateful streaming operator: incremental sessionization with
applyInPandasWithState.

Spark's built-in `session_window` covers windowed aggregation; this operator
is the general form — arbitrary per-key state evolved across micro-batches
(reference point: SURVEY.md §2.9 'custom stateful streaming'). State per
user is one open session (4 scalars); closed sessions are emitted as soon
as a later event proves the gap, so output latency is one micro-batch, and
state size is O(active users), independent of history length.

Batch-mode q32 (session_window + gaps-and-islands oracle) pins the session
semantics; tests assert the streaming operator's closed sessions are exactly
the batch sessions minus each user's final (still-open) one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_US = 30 * 60 * 1_000_000

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# open-session state: (start_us, last_us, n_events, total_value)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _sessionize_group(key, pdf_iter, state: GroupState):
    import pandas as pd

    (user_id,) = key
    if state.exists:
        start_us, last_us, n_events, total_value = state.get
    else:
        start_us = last_us = None
        n_events, total_value = 0, 0.0

    closed = []
    for pdf in pdf_iter:
        pdf = pdf.sort_values("t_us")
        for t_us, value in zip(pdf["t_us"], pdf["value"]):
            t_us = int(t_us)
            if start_us is None:
                start_us, last_us, n_events, total_value = t_us, t_us, 1, float(value)
            elif t_us - last_us >= GAP_US:
                closed.append((user_id, start_us, n_events, total_value))
                start_us, last_us, n_events, total_value = t_us, t_us, 1, float(value)
            else:
                last_us = t_us
                n_events += 1
                total_value += float(value)

    if start_us is not None:
        state.update((start_us, last_us, n_events, total_value))
    if closed:
        yield pd.DataFrame(
            closed, columns=["user_id", "session_start_us", "n_events", "total_value"]
        )


def sessionize_stream(events_stream: DataFrame) -> DataFrame:
    """events stream with (user_id, t_us, value) → closed-session stream.

    Requires micro-batches to deliver a user's events in non-decreasing
    event-time order across batches (true for replayed logs / file sources;
    for out-of-order sources add a watermark + sort stage upstream).
    """
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# running per-user counter (q151)
# ---------------------------------------------------------------------------
COUNTER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)

# running-counter state: two integers per user
COUNTER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def _counter_group(key, pdf_iter, state: GroupState):
    """Fold one micro-batch of a user's rows into the two-integer state
    and emit one snapshot of the running totals."""
    import pandas as pd

    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        cents += int(pdf["cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_cents": [cents]}
    )


def running_counter_stream(events_stream: DataFrame) -> DataFrame:
    """events stream with (user_id, cents) → per-user running totals via
    applyInPandasWithState: one snapshot per user per micro-batch."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _counter_group,
        COUNTER_OUTPUT_SCHEMA,
        COUNTER_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
