"""Streaming twin of `window_sliding_median`: per-user rolling exact
median computed incrementally with applyInPandasWithState.

The batch form (operators/windows.py `sliding_median_features`) sorts a
bounded 5-row collect_list frame per row; the stream carries exactly the
state the future needs — the last MEDIAN_WINDOW-1 floored values per user
(state size O(active users × MEDIAN_WINDOW), independent of stream
length).  Each arriving event emits one row whose median is computed by
the same sort + midpoint-average rule, so stream==batch is bit-exact
(integers in, (a+b)/2 doubles out) — pinned in
tests/test_stateful_streaming.py.

Ordering contract (same as ewma_stream): events arrive in event_id order
PER USER across micro-batches (log-compacted-queue / per-key-ordered CDC
ingestion); within a batch any order is fine (sorted before folding).

Reference parity: the reference has no streaming surface (SURVEY §2B);
north-star extension like streaming/ewma_stream.py.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from impala_avx2_parquet_scanner_spark.operators.windows import MEDIAN_WINDOW
from impala_avx2_parquet_scanner_spark.pyworker import trims

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("v", LongType()),
        StructField("med5", DoubleType()),
    ]
)

#: State: the last MEDIAN_WINDOW-1 floored values, oldest first.
STATE_SCHEMA = StructType([StructField("tail", ArrayType(LongType()))])


@trims
def _fold_median(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    tail: list[int] = list(state.get[0]) if state.exists else []
    rows = pd.concat(list(pdfs)).sort_values("event_id")
    out = []
    for event_id, v in zip(rows["event_id"], rows["v"]):
        window = sorted((tail + [int(v)])[-MEDIAN_WINDOW:])
        n = len(window)
        med = (window[(n - 1) // 2] + window[n // 2]) / 2.0
        out.append((int(event_id), int(user_id), int(v), med))
        tail = (tail + [int(v)])[-(MEDIAN_WINDOW - 1):]
    state.update((tail,))
    yield pd.DataFrame(out, columns=["event_id", "user_id", "v", "med5"])


def median_stream(events: DataFrame) -> DataFrame:
    """(event_id, user_id, v) stream → per-event rolling-median rows,
    exactly matching the batch `sliding_median_features` on the same
    data.  No timeout: the window IS the sequence memory; production
    bounds state with a TTL on inactive users."""
    return events.groupBy("user_id").applyInPandasWithState(
        _fold_median,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
