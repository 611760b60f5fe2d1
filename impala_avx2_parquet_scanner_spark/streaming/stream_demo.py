"""Structured Streaming execution of the event-time operators.

streaming/events.py defines the windowed aggregations in batch form (so
the DuckDB oracle can check them); this module runs the same logic through
``readStream`` with watermarks — the deployment shape for a live event
feed.  Tests drive it with the parquet file source + memory sink and
``processAllAvailable()`` for synchronous completion.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs


def events_stream(spark: SparkSession, sf_dir: str, stream_dir: str | None = None) -> DataFrame:
    """readStream over the events table.

    FileStreamSource requires a *directory* to watch (new files arriving =
    new micro-batches), while the fixture is a single file — so the file
    is staged into `stream_dir` (a temp dir by default).

    The stream declares the *batch loader's* resolved schema
    (`catalog.table`), which guards on the physical dtype: the fixture's
    `ts` is physically TIMESTAMP(µs) (verified with pyarrow across all SF
    dirs), so both paths read it as a plain timestamp — no unit
    conversion.  If a future fixture shipped int64 nanos, `catalog` would
    resolve `ts` to the normalized timestamp type and this stream schema
    would need the same `timestamp_micros(ts div 1000)` hop the batch
    guard applies; asserting on the batch schema keeps the two paths from
    drifting apart silently."""
    ensure_runtime_confs(spark)
    if stream_dir is None:
        stream_dir = tempfile.mkdtemp(prefix="events_stream_")
        shutil.copy(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    batch = table(spark, sf_dir, "events")
    ts_type = dict((f.name, f.dataType.simpleString()) for f in batch.schema.fields)["ts"]
    if not ts_type.startswith("timestamp"):
        raise NotImplementedError(
            f"events.ts resolved to {ts_type}; streaming path only supports "
            "timestamp fixtures (see catalog._events for the batch guard)"
        )
    stream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .load(stream_dir)
        # watermarks require TIMESTAMP (LTZ); the fixture resolves to NTZ.
        # Session TZ is pinned to UTC, so the cast is the identity on values.
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    assert [f.name for f in stream.schema.fields] == [f.name for f in batch.schema.fields]
    return stream


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of the
    oracle-checked `events_tumbling` query.  The watermark bounds state:
    windows older than max(event-time) - watermark are finalized and
    evicted, so state size is O(active windows), not O(stream length)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once-per-key dedup within the watermark horizon
    (`dropDuplicatesWithinWatermark`): the streaming analog of the batch
    keep-first query `events_first_per_key`."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to a memory sink synchronously; returns
    the StreamingQuery (caller reads `SELECT * FROM {name}` and stops it)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


def attribution_join_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user views in
    the preceding hour — the streaming twin of the oracle-checked
    `events_attribution` batch query.

    Both sides carry a watermark and the join condition bounds v_ts
    relative to p_ts, so the state store can evict views older than
    watermark + 1 hour — state stays O(recent events) on an unbounded
    stream."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    return p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
    )


def attribution_outer_join_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits, with
    NULL view columns when no same-user view preceded it within an hour.

    Outer semantics on streams are watermark-driven: a purchase that
    found no match cannot emit immediately (a matching view may still
    arrive), so it sits in the state store until the watermark passes
    `p_ts + 0` — only then is "no match" final and the NULL-padded row
    flushed, in a LATER micro-batch.  This is the correct distributed
    answer to late data (the batch twin `events_attribution` left-joins
    trivially because batch sees everything).  State is evicted on the
    same schedule, so memory stays O(watermark horizon) on an unbounded
    stream.  Tests drive two micro-batches so the second one advances the
    watermark and flushes the first batch's unmatched purchases."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    return p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "leftOuter",
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: each micro-batch left-joins a broadcast
    dimension snapshot (no watermark needed — the static side is not
    stateful; Spark re-plans the broadcast per batch, picking up dimension
    updates between batches).

    The third streaming join shape next to stream-stream
    (attribution_join_stream) and stateful sessions (streaming/stateful.py):
    at 100 TB/day of events the dimension stays executor-resident and the
    stream never shuffles."""
    return events.join(F.broadcast(dim), "user_id", "left")


def foreach_batch_upsert_sink(
    stream_df: DataFrame, path: str, partition_by: tuple[str, ...] = ("day",)
) -> "DataStreamWriter":  # noqa: F821 - typing-only forward ref
    """Exactly-once-per-partition streaming sink: each micro-batch is
    aggregated and written through dynamic partition overwrite, so a
    replayed batch (executor crash, checkpoint restart) REPLACES its
    partitions instead of appending duplicates — idempotence without a
    transactional table format.

    The pattern: writeStream.foreachBatch(f); f derives the partition
    keys present in the batch and calls `overwrite_partitions`, which
    scopes the overwrite to exactly those directories.  Combined with
    checkpointing this gives effectively-once delivery to a plain
    parquet layout at any scale — the operational contract a 100 TB
    ingest path needs (the reference manages the same granularity via
    HdfsPartitionDescriptor, descriptors.h:178-262).

    Returns the unstarted writer (caller adds trigger/checkpoint)."""
    from impala_avx2_parquet_scanner_spark.sources.parquet_io import (
        overwrite_partitions,
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_partitions(batch_df, path, partition_by)

    return stream_df.writeStream.foreachBatch(upsert)


def ohlc_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of the oracle-checked `events_ohlc` candle builder:
    watermarked hourly tumbling windows with the same struct-argmin/argmax
    open/close trick — min/max/sum/count are all unconditionally supported
    streaming aggregates, so the candle state collapses incrementally
    per-window and the watermark finalizes+evicts candles an hour behind
    the stream head (state is O(active windows), exactly the batch
    query's partial-candle shape)."""
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            first_s.getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            last_s.getField("value").alias("close"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("bucket_h"),
            "event_type",
            "open", "high", "low", "close", "volume", "n_events",
        )
    )
