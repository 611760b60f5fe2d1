"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no streaming surface; this is the north-star extension
(SURVEY §7 phase 4): a per-user running session tracker that emits one row
per closed session — the arbitrary-stateful analog of session_window, but
with user-defined state (running value sum, event count, first/last ts)
that built-in windows can't carry.

State model: one GroupState per user_id holding the open session's
aggregates.  An event whose ts is > GAP after the last event closes the
open session (emit) and opens a new one.  On timeout (no events past the
watermark) the open session is flushed.  State size is O(active users),
independent of stream length.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from impala_avx2_parquet_scanner_spark.pyworker import trims

SESSION_GAP_SECONDS = 1800

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def _us(ts: pd.Timestamp) -> int:
    return int(ts.value // 1000)


@trims
def track_sessions(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Emit closed sessions for one user.  Pure-Python state machine over
    Arrow batches — the pattern for any custom stateful operator."""
    (user_id,) = key
    if state.hasTimedOut:
        # event-time timeout: the watermark passed session_end + gap, so
        # no in-order event can extend this session — flush it
        if state.exists:
            start_us, end_us, n, sv = state.get
            state.remove()
            yield _emit(user_id, start_us, end_us, n, sv)
        return

    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    if state.exists:
        start_us, end_us, n, sv = state.get
    else:
        start_us = end_us = -1
        n, sv = 0, 0.0

    out = []
    for ts, value in zip(rows["ts"], rows["value"]):
        t = _us(ts)
        if start_us < 0:
            start_us, end_us, n, sv = t, t, 1, float(value)
        elif t - end_us > SESSION_GAP_SECONDS * 1_000_000:
            out.append((start_us, end_us, n, sv))
            start_us, end_us, n, sv = t, t, 1, float(value)
        else:
            end_us, n, sv = t, n + 1, sv + float(value)
    state.update((start_us, end_us, n, sv))
    # flush when the event-time watermark passes session end + gap
    state.setTimeoutTimestamp(end_us // 1000 + SESSION_GAP_SECONDS * 1000)
    for start, end, cnt, val in out:
        yield _emit(user_id, start, end, cnt, val)


def _emit(user_id: int, start_us: int, end_us: int, n: int, sv: float) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start_us * 1000)],
            "session_end": [pd.Timestamp(end_us * 1000)],
            "n_events": [n],
            "sum_value": [sv],
        }
    )


def sessionize_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization with custom state.  `events` must be a
    streaming DataFrame with (user_id, ts, event_id, value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            track_sessions,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
