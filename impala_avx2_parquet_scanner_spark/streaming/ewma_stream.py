"""Streaming twin of `window_ewma`: per-user truncated EWMA computed
incrementally with applyInPandasWithState.

The batch form (operators/windows.py `window_ewma`) takes the trailing
EWMA_DEPTH events per user through LAG taps over a keyed window; the
stream can't look back across micro-batches, so the state carries exactly
what the future needs: the last EWMA_DEPTH-1 floor-quantized values per
user (a bounded array — state size is O(active users x EWMA_DEPTH),
independent of stream length).  Every arriving event emits one feature
row with the identical exact-integer numerator/denominator as the batch
query, so stream==batch is bit-exact, not approximate — pinned in
tests/test_stateful_streaming.py.

Ordering contract (documented limitation, standard for sequence
features): events must arrive in (ts, event_id) order PER USER across
micro-batches — the log-compacted-queue / CDC-per-key-ordered ingestion
model.  Within a batch any order is fine (sorted before folding).  An
out-of-order cross-batch event would need a watermark-delayed reorder
buffer upstream (`withWatermark` + a sort per micro-batch keyed on the
same (ts, event_id)).

Reference parity: the reference has no streaming surface (SURVEY §2B);
north-star extension like streaming/stateful.py.
"""

from __future__ import annotations

from collections.abc import Iterable

import math

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

from impala_avx2_parquet_scanner_spark.operators.windows import EWMA_DEPTH
from impala_avx2_parquet_scanner_spark.pyworker import trims

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ewma_q", LongType()),
        StructField("denom_q", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

#: State: the last EWMA_DEPTH-1 quantized values, oldest first.
STATE_SCHEMA = StructType([StructField("tail", ArrayType(LongType()))])


@trims
def _fold_ewma(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    tail: list[int] = list(state.get[0]) if state.exists else []
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    out = []
    for event_id, value in zip(rows["event_id"], rows["value"]):
        vq = math.floor(float(value) * 1_000_000)
        window = (tail + [vq])[-EWMA_DEPTH:]  # oldest first, current last
        num = den = 0
        for k, v in enumerate(reversed(window)):  # k=0 is the current row
            w = 1 << (EWMA_DEPTH - 1 - k)
            num += v * w
            den += w
        out.append((int(event_id), int(user_id), num, den, num / den))
        tail = (tail + [vq])[-(EWMA_DEPTH - 1):]
    state.update((tail,))
    yield pd.DataFrame(
        out, columns=["event_id", "user_id", "ewma_q", "denom_q", "ewma"]
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """(event_id, user_id, ts, value) stream → per-event EWMA feature
    rows, exactly matching the batch `window_ewma` on the same data.

    No timeout: EWMA state never expires by time (it is the sequence
    memory itself); a production deployment bounds state with a TTL on
    inactive users, which only drops users that would re-ramp anyway."""
    return events.groupBy("user_id").applyInPandasWithState(
        _fold_ewma,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
