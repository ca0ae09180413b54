"""Structured Streaming twins: drive the bounded file stream to
completion and diff against the batch window results (the batch results
themselves hash-match the DuckDB oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_map_reduce_spark.registry import all_queries
from distributed_map_reduce_spark.streaming.batch_windows import (
    click_purchase_join,
    enriched_segment_windows,
    sessions,
    tumbling_counts,
)
from distributed_map_reduce_spark.streaming.jobs import (
    drain,
    read_events_stream,
    run_to_completion,
    streaming_dedup,
)


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    with read_events_stream(spark, sf_dir) as stream:
        result = run_to_completion(
            spark, tumbling_counts(stream), "t_tumbling", mode="complete"
        )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in result.collect()
    }
    batch = all_queries()["events_tumbling_window"].fn(spark, sf_dir)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_dedup_runs(spark, sf_dir):
    with read_events_stream(spark, sf_dir) as stream:
        result = run_to_completion(spark, streaming_dedup(stream), "t_dedup", mode="append")
    n = result.count()
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert 0 < n <= total


def test_watermark_drops_late_data(spark, tmp_path):
    """Event-time watermark semantics: a row arriving after the
    watermark passed its window is dropped; on-time rows in later
    batches are kept. Two files forced into two micro-batches."""
    import os
    import time as _time

    import pyspark.sql.functions as F

    d = str(tmp_path / "stream_in")
    os.makedirs(d)

    def write_batch(name, rows, mtime):
        df = spark.createDataFrame(rows, "ts timestamp, v double").coalesce(1)
        tmp = str(tmp_path / name)
        df.write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(d, f"{name}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    now = _time.time()
    # batch 1: three rows in [10:00,10:05) plus one at 11:00 that pushes
    # the watermark (10 min) to 10:50 — far past the first window
    write_batch("a", [(t(0), 1.0), (t(1), 1.0), (t(2), 1.0), (dt.datetime(2024, 1, 1, 11, 0), 1.0)], now - 90)
    # batch 2: filler — Spark's watermark takes effect one batch AFTER
    # the data that advanced it, so this batch commits the 10:50 mark
    write_batch("b", [(t(55), 1.0)], now - 60)
    # batch 3: one LATE row at 10:02 (window closed — dropped) and one
    # on-time row at 10:58
    write_batch("c", [(t(2), 99.0), (dt.datetime(2024, 1, 1, 10, 58), 1.0)], now)

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("t_late").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["ws"]: r["n"] for r in spark.table("t_late").collect()}
    # the 10:00 window finalized with 3 rows; the late row at 10:02
    # (arriving with the watermark at 10:50) must NOT appear
    assert got[t(0)] == 3


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """True stream-stream interval join (watermarks on both sides) must
    produce exactly the batch twin's attribution pairs."""
    with read_events_stream(spark, sf_dir) as stream:
        result = run_to_completion(
            spark, click_purchase_join(stream), "t_ssjoin", mode="append"
        )
    got = {(r["click_id"], r["purchase_id"]) for r in result.collect()}
    batch = all_queries()["events_click_to_purchase"].fn(spark, sf_dir)
    want = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    assert got == want


def test_foreachbatch_parquet_sink_matches_batch(spark, sf_dir, tmp_path):
    """The production sink path: tumbling-window agg → foreachBatch →
    idempotent parquet overwrite per (batch, window) — read back equals
    the batch twin. (At scale foreachBatch is where exactly-once sinks,
    MERGEs, and multi-sink fanout live.)"""
    import pyspark.sql.functions as F

    out = str(tmp_path / "windows_out")

    def write_batch(df, epoch_id):
        # complete mode: every batch carries the full window state, so a
        # full overwrite is idempotent — replaying a batch rewrites, never
        # duplicates (append-mode pipelines get the same property from
        # dynamic partition overwrite keyed by window)
        df.withColumn("w", F.date_format("window_start", "yyyyMMddHHmm")) \
          .write.mode("overwrite").partitionBy("w").parquet(out)

    with read_events_stream(spark, sf_dir) as stream:
        drain(
            tumbling_counts(stream)
            .writeStream.outputMode("complete")
            .foreachBatch(write_batch)
        )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    batch = all_queries()["events_tumbling_window"].fn(spark, sf_dir)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static dim join + windowed agg produces exactly the batch
    answer once the bounded stream drains."""
    from distributed_map_reduce_spark.sources import load_table

    customer = load_table(spark, sf_dir, "customer")
    with read_events_stream(spark, sf_dir) as stream:
        got = run_to_completion(
            spark, enriched_segment_windows(stream, customer), "seg_windows"
        )
    want = all_queries()["events_segment_enrichment"].fn(spark, sf_dir)
    got_set = {tuple(r) for r in got.collect()}
    want_set = {tuple(r) for r in want.collect()}
    assert got_set == want_set and len(want_set) > 0


def test_foreachbatch_sink_is_replay_idempotent(spark, sf_dir, tmp_path):
    """Drain the bounded stream through the idempotent foreachBatch sink,
    then replay the last batch: row count must not change (re-delivery
    overwrites its own partition), and the sink holds exactly the
    source rows."""
    import os

    from distributed_map_reduce_spark.sources import load_table
    from distributed_map_reduce_spark.streaming.jobs import idempotent_batch_sink

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    writer = idempotent_batch_sink(out)
    with read_events_stream(spark, sf_dir) as stream:
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    n_src = load_table(spark, sf_dir, "events").count()
    first = spark.read.parquet(out)
    assert first.count() == n_src

    # crash-replay simulation: rerun the highest batch with the same id
    last_id = max(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("batch_id=")
    )
    replay_df = first.filter(F.col("batch_id") == last_id).drop("batch_id")
    writer(replay_df, last_id)
    again = spark.read.parquet(out)
    assert again.count() == n_src  # no duplicates after re-delivery


def test_streaming_session_windows_match_batch(spark, sf_dir):
    """The streaming session_window aggregation (30-min gap, watermark)
    must converge to the batch twin — same merged sessions, counts, and
    values — on a drained bounded stream."""
    with read_events_stream(spark, sf_dir) as stream:
        result = run_to_completion(
            spark, sessions(stream, "30 minutes"), "t_sessions", mode="complete"
        )
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in result.collect()
    }
    batch = all_queries()["events_session_window"].fn(spark, sf_dir)
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_incremental_view_matches_full_aggregate(spark, sf_dir, tmp_path):
    """The foreachBatch-maintained materialized view must equal the
    one-shot batch aggregate after the stream drains — merge(deltas) ==
    recompute, the streaming form of cdc_incremental_join_agg."""
    from distributed_map_reduce_spark.streaming.jobs import incremental_view_sink

    view = str(tmp_path / "user_totals_view")
    with read_events_stream(spark, sf_dir) as stream:
        drain(
            stream.writeStream.foreachBatch(incremental_view_sink(view))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
        )
    got = {
        r["user_id"]: (r["n_events"], r["cents"])
        for r in spark.read.parquet(view).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r["user_id"]: (r["n"], r["c"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("c"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_events_stream_dir_symlink_is_absolute(tmp_path, monkeypatch):
    """The file-stream landing dir must symlink an ABSOLUTE target: a
    relative sf_dir would otherwise become a relative symlink target,
    which the OS resolves against the /tmp landing dir instead of the
    caller's cwd (every streaming-flush query failed under a relative
    --sf path before the target was made absolute)."""
    import os

    from distributed_map_reduce_spark.streaming.jobs import events_stream_dir

    src = tmp_path / "fixtures"
    src.mkdir()
    (src / "events.parquet").write_bytes(b"stub")
    monkeypatch.chdir(tmp_path)
    d = events_stream_dir("fixtures")  # RELATIVE on purpose
    link = os.path.join(d, "events.parquet")
    target = os.readlink(link)
    assert os.path.isabs(target), target
    assert os.path.exists(link), "symlink must resolve from anywhere"
