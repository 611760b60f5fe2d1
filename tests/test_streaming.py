"""Structured Streaming execution of the event-time operators
(streaming/stream_demo.py): parquet file source → watermarked windowed
aggregation / dedup → memory sink, driven synchronously.

The batch twins of these queries are oracle-checked (events_tumbling,
events_first_per_key); here the same logic is proven to run as a real
stream and to agree with the batch result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.registry import REGISTRY
from impala_avx2_parquet_scanner_spark.streaming.stream_demo import (
    dedup_stream,
    events_stream,
    run_to_memory,
    tumbling_counts_stream,
)
import impala_avx2_parquet_scanner_spark as engine


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    agg = tumbling_counts_stream(stream)
    q = run_to_memory(agg, "tumbling_out", output_mode="complete")
    try:
        got = {
            (r.window_start, r.event_type): r.n
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
        batch = REGISTRY["events_tumbling"].fn(spark, sf_dir)
        want = {
            (r.window_start, r.event_type): r.n for r in batch.collect()
        }
        # stream ts is LTZ (UTC session) vs batch ntz: compare naive values
        got_n = {(k[0].replace(tzinfo=None), k[1]): v for k, v in got.items()}
        assert got_n == want
    finally:
        q.stop()


def test_streaming_dedup_bounds_output(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    q = run_to_memory(dedup_stream(stream), "dedup_out")
    try:
        n = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0].n
        distinct_keys = (
            REGISTRY["events_first_per_key"].fn(spark, sf_dir).count()
        )
        # exactly one row per (user_id, event_type) within the horizon
        assert n == distinct_keys
    finally:
        q.stop()


def test_stream_is_actually_streaming(spark, sf_dir):
    assert events_stream(spark, sf_dir).isStreaming


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: in append mode, an event arriving after the
    watermark passed its window is DROPPED (the reference has no
    streaming; this pins Spark's event-time contract for the engine)."""
    import pandas as pd

    d = tmp_path / "late_in"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write_batch(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))

    # batch 1: events at 00:05 and 10:00 → watermark advances to 09:00
    write_batch([(base + pd.Timedelta(minutes=5), "click", 1.0),
                 (base + pd.Timedelta(hours=10), "click", 1.0)])
    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(str(d))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("late_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for the (already finalized) 00:00 window
        write_batch([(base + pd.Timedelta(minutes=10), "click", 1.0)])
        q.processAllAvailable()
        rows = {(r.ws, r.n) for r in spark.sql("SELECT * FROM late_out").collect()}
        # the 00:00 window was emitted with n=1 when the watermark passed it;
        # the late event must NOT produce a second/updated row
        counts = [n for ws, n in rows if ws.hour == 0]
        assert counts == [1]
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The stream-stream interval join emits exactly the pairs the batch
    interval join produces (inner join, both sides watermarked)."""
    from impala_avx2_parquet_scanner_spark.streaming.stream_demo import (
        attribution_join_stream,
    )

    stream = events_stream(spark, sf_dir)
    joined = attribution_join_stream(stream)
    q = run_to_memory(joined, "attr_out")
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT purchase_id, v_ts, COUNT(*) AS n FROM attr_out GROUP BY 1, 2"
        ).collect()
    finally:
        q.stop()
    # batch twin: re-derive raw pairs from the oracle-checked query's inputs
    e = engine.REGISTRY["events_attribution"].fn(spark, sf_dir)
    batch_pairs = {(r.purchase_id, r.n_views) for r in e.collect()}
    stream_counts = {}
    for r in got:
        assert r.n == 1  # no duplicate emissions
        stream_counts[r.purchase_id] = stream_counts.get(r.purchase_id, 0) + 1
    assert {(k, v) for k, v in stream_counts.items()} == batch_pairs


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static broadcast join: streaming result == batch twin
    (row count and join hit-rate)."""
    from impala_avx2_parquet_scanner_spark.catalog import table
    from impala_avx2_parquet_scanner_spark.streaming.stream_demo import (
        enrich_stream,
        events_stream,
        run_to_memory,
    )

    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    ev = events_stream(spark, sf_dir)
    q = run_to_memory(
        enrich_stream(ev, dim).select("event_id", "user_id", "c_mktsegment"),
        "enriched_mem",
    )
    try:
        got = spark.sql(
            "SELECT COUNT(*) AS n, COUNT(c_mktsegment) AS hits FROM enriched_mem"
        ).collect()[0]
    finally:
        q.stop()
    batch = table(spark, sf_dir, "events").join(dim, "user_id", "left")
    assert got.n == batch.count()
    assert got.hits == batch.filter(F.col("c_mktsegment").isNotNull()).count()
    assert got.hits > 0


def test_foreach_batch_upsert_is_idempotent(spark, tmp_path):
    """A replayed micro-batch must REPLACE its day partitions, not append:
    run the same staged input through the sink twice (fresh checkpoint the
    second time simulates a reprocessing run) and expect identical output."""
    import pandas as pd

    from impala_avx2_parquet_scanner_spark.streaming.stream_demo import (
        foreach_batch_upsert_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 00:00:00")
    pdf = pd.DataFrame(
        [(1, base, 10.0), (2, base + pd.Timedelta(hours=1), 5.0),
         (3, base + pd.Timedelta(days=1), 2.0)],
        columns=["user_id", "ts", "value"],
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(src))
    out = str(tmp_path / "out")

    def run(checkpoint: str) -> None:
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .parquet(str(src))
            .withColumn("day", F.to_date("ts"))
        )
        q = (
            foreach_batch_upsert_sink(stream, out, partition_by=("day",))
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    run("ckpt1")
    first = sorted(
        (r.user_id, str(r.day)) for r in spark.read.parquet(out).collect()
    )
    run("ckpt2")  # replay: same data, fresh checkpoint
    second = sorted(
        (r.user_id, str(r.day)) for r in spark.read.parquet(out).collect()
    )
    assert first == second == [(1, "2024-03-01"), (2, "2024-03-01"), (3, "2024-03-02")]


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """session_window in a real readStream with a watermark: sessions whose
    end precedes the final watermark are emitted in append mode and must
    equal the batch session_window aggregation over the same data."""
    import pandas as pd

    base = pd.Timestamp("2024-05-01 00:00:00")
    rows = [
        (1, base, 1.0),
        (1, base + pd.Timedelta(minutes=10), 2.0),          # same session
        (1, base + pd.Timedelta(hours=2), 4.0),             # new session
        (2, base + pd.Timedelta(minutes=5), 8.0),
        # late sentinel far ahead: pushes the watermark past every session
        (99, base + pd.Timedelta(days=2), 0.0),
    ]
    src = tmp_path / "sess_in"
    src.mkdir()
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(src))

    def sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
            .select(
                "user_id",
                F.col("session_window.start").alias("s"),
                F.col("session_window.end").alias("e"),
                "n",
                "sv",
            )
        )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
    )
    q = (
        sessions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r.user_id, r.s, r.e, r.n, r.sv)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    batch = sessions(spark.read.parquet(str(src)))
    # every session except the sentinel's own (still open at end-of-stream)
    want = {
        (r.user_id, r.s, r.e, r.n, r.sv)
        for r in batch.collect()
        if r.user_id != 99
    }
    assert got == want


def test_checkpoint_recovery_restores_state_exactly_once(spark, tmp_path):
    """Kill-and-restart contract: a watermarked windowed aggregation writing
    to a parquet file sink is resumed from its checkpoint — the restarted
    query must (a) restore the watermark AND the window partials accumulated
    before the stop, and (b) emit each finalized window exactly once across
    the two runs (file-sink transactional log).  This is the operational
    guarantee a 1000-executor cluster restarts rely on."""
    import pandas as pd

    src = tmp_path / "ckpt_in"
    src.mkdir()
    out = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_state")
    base = pd.Timestamp("2024-07-01 00:00:00")

    def write_batch(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(src))

    def run_once() -> None:
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .parquet(str(src))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("ws"), "event_type", "n")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    # run 1: two hour-0 events + an hour-10 sentinel → watermark 09:00 is
    # checkpointed; the hour-0 window may or may not flush before the stop
    write_batch([(base + pd.Timedelta(minutes=5), "click", 1.0),
                 (base + pd.Timedelta(minutes=20), "click", 1.0),
                 (base + pd.Timedelta(hours=10), "click", 1.0)])
    run_once()

    # run 2 (restart from the same checkpoint): a fresh sentinel advances
    # the restored watermark past hours 0 and 10, finalizing both windows
    write_batch([(base + pd.Timedelta(hours=20), "click", 1.0)])
    run_once()

    rows = [(r.ws.replace(tzinfo=None), r.n)
            for r in spark.read.parquet(out).collect()]
    # hour-0 appears once with n=2: both pre-restart events survived in
    # recovered state; no duplicate emission across the restart
    assert sorted(r for r in rows if r[0].hour == 0) == [(base.to_pydatetime(), 2)]
    assert sorted(r for r in rows if r[0].hour == 10) == [
        ((base + pd.Timedelta(hours=10)).to_pydatetime(), 1)
    ]

    # run 3: restart again with NO new input — must be a no-op
    run_once()
    assert len(spark.read.parquet(out).collect()) == len(rows)


def test_stream_outer_join_flushes_unmatched_on_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join contract: an unmatched purchase emits
    with NULL view columns only after a later batch advances the
    watermark past it (match-finality is watermark-driven); matched
    purchases emit with their view."""
    import pandas as pd

    from impala_avx2_parquet_scanner_spark.streaming.stream_demo import (
        attribution_outer_join_stream,
    )

    d = tmp_path / "outer_in"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def write_batch(rows):
        pdf = pd.DataFrame(rows, columns=cols)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))

    # batch 1: user 1 views then purchases (match); user 2 purchases with
    # no view (must flush as NULL-padded once the watermark passes)
    write_batch([
        (1, base + pd.Timedelta(minutes=5), 1, "view", 1.0, "{}"),
        (2, base + pd.Timedelta(minutes=30), 1, "purchase", 2.0, "{}"),
        (3, base + pd.Timedelta(minutes=30), 2, "purchase", 3.0, "{}"),
    ])
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).parquet(str(d))
    joined = attribution_outer_join_stream(stream, watermark="1 hour")
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("outer_out")
        .option("checkpointLocation", str(tmp_path / "outer_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        early = spark.sql("SELECT * FROM outer_out").collect()
        # no batch has advanced the watermark yet: the unmatched purchase
        # must NOT have emitted (its no-match verdict is not final)
        assert all(r.purchase_id != 3 or r.v_ts is not None for r in early)
        # batch 2 advances the watermark past batch 1 — BOTH branches need
        # later event time (the global watermark is the min across the two
        # watermarked inputs, and each only sees its event_type) — and it
        # commits at end-of-batch, so batch 3 performs the state-store
        # sweep that emits the now-final NULL-padded row
        write_batch([(9, base + pd.Timedelta(hours=12), 9, "view", 1.0, "{}"),
                     (10, base + pd.Timedelta(hours=12), 9, "purchase", 1.0, "{}")])
        q.processAllAvailable()
        write_batch([(11, base + pd.Timedelta(hours=13), 9, "view", 1.0, "{}"),
                     (12, base + pd.Timedelta(hours=13), 9, "purchase", 1.0, "{}")])
        q.processAllAvailable()
        rows = {(r.purchase_id, r.v_ts is not None)
                for r in spark.sql("SELECT * FROM outer_out").collect()}
        assert (2, True) in rows   # matched purchase carries its view
        assert (3, False) in rows  # unmatched purchase flushed NULL-padded
    finally:
        q.stop()


def test_ohlc_stream_matches_batch(spark, sf_dir):
    """The streaming candle builder must produce exactly the batch
    `events_ohlc` result when the whole fixture flows through (complete
    mode — every window finalized)."""
    from impala_avx2_parquet_scanner_spark.operators.timeseries import events_ohlc
    from impala_avx2_parquet_scanner_spark.streaming.stream_demo import (
        events_stream,
        ohlc_stream,
        run_to_memory,
    )

    stream = events_stream(spark, sf_dir)
    q = run_to_memory(ohlc_stream(stream), "ohlc_out", output_mode="complete")
    try:
        q.processAllAvailable()
        got = {
            (r.event_type, r.bucket_h): (r.open, r.high, r.low, r.close,
                                         r.volume, r.n_events)
            for r in spark.table("ohlc_out").collect()
        }
    finally:
        q.stop()
    want = {
        (r.event_type, r.bucket_h): (r.open, r.high, r.low, r.close,
                                     r.volume, r.n_events)
        for r in events_ohlc(spark, sf_dir).collect()
    }
    # batch bucket is timestamp_ntz, stream window.start is ltz — session
    # TZ is UTC so values align after normalization
    got_n = {(t, b.replace(tzinfo=None) if hasattr(b, "tzinfo") else b): v
             for (t, b), v in got.items()}
    assert got_n == want
