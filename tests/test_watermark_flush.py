"""Watermark-flush streaming queries: append-mode windows drained to a
final answer by the flush sentinels must equal their batch twins
(which themselves hash-match the DuckDB oracles)."""

from __future__ import annotations

from distributed_map_reduce_spark.registry import all_queries
from distributed_map_reduce_spark.sources.scratch import scratch_dir


def _rows(df, keys):
    return sorted(tuple(r[k] for k in keys) for r in df.collect())


def test_session_flush_matches_batch(spark, sf_dir):
    stream = all_queries()["stream_session_flush_final"].fn(spark, sf_dir)
    batch = all_queries()["events_session_window"].fn(spark, sf_dir)
    keys = ["user_id", "session_start", "n_events", "session_value"]
    assert _rows(stream, keys) == _rows(batch, keys)


def test_sliding_flush_matches_batch(spark, sf_dir):
    stream = all_queries()["stream_sliding_flush_final"].fn(spark, sf_dir)
    batch = all_queries()["events_sliding_window"].fn(spark, sf_dir)
    keys = ["window_start", "event_type", "n_events", "avg_value"]
    assert _rows(stream, keys) == _rows(batch, keys)


def test_chained_windows_emit_once(spark, sf_dir):
    """Chained 5min→1h rollup: every (hour, type) appears exactly once
    (append-mode emit-once), and the per-hour bucket counts are sane."""
    out = all_queries()["stream_chained_time_windows"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows, "flush must drain the hourly layer"
    seen = [(r["hour_start"], r["event_type"]) for r in rows]
    assert len(seen) == len(set(seen))
    for r in rows:
        assert 1 <= r["n_buckets"] <= 12  # ≤ twelve 5-min buckets per hour
        assert r["max_5min_events"] <= r["total_events"]


def test_segment_enrichment_matches_batch(spark, sf_dir):
    stream = all_queries()["stream_segment_enrichment_final"].fn(spark, sf_dir)
    batch = all_queries()["events_segment_enrichment"].fn(spark, sf_dir)
    keys = ["window_start", "segment", "n_purchases", "segment_revenue"]
    assert _rows(stream, keys) == _rows(batch, keys)


def test_checkpoint_restart_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Kill a streaming query mid-backlog and restart it from the same
    checkpoint: the restarted query must resume from committed offsets —
    every source row appears in the file sink EXACTLY once across both
    incarnations (no loss, no duplicate re-append). This is the
    checkpoint + file-sink commit-log contract; a stateless projection
    isolates it from watermark/late-data semantics (the staged files
    interleave event times, so a watermarked operator would correctly
    drop 'late' rows and mask the property under test)."""
    import time as _t

    # stage the events as 4 separate files so there are multiple batches
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    staged = str(tmp_path / "staged")
    src.repartition(4).write.mode("overwrite").parquet(staged)
    schema = src.schema
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
            .select("event_id", "event_type", "value")
        )
        return (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    # let at least one micro-batch commit, then kill mid-backlog
    deadline = _t.time() + 60
    while not q.recentProgress and _t.time() < deadline:
        _t.sleep(0.2)
    assert q.recentProgress, "no micro-batch committed before the kill"
    q.stop()
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    sink = spark.read.parquet(out)
    assert sink.count() == src.count()  # no loss, no duplicate re-append
    assert sink.select("event_id").distinct().count() == src.count()


def test_session_flush_reads_nanos_timestamps(spark, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) events.parquet (read as epoch-nanos longs under
    spark.sql.legacy.parquet.nanosAsLong) must flush to the same sessions
    as the µs file: the stream normalizes ts like the batch table, and
    the sentinel is written in the file's raw ts type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/events.parquet")
    i = table.schema.get_field_index("ts")
    nanos = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, tmp_path / "events.parquet", version="2.6")
    raw = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert raw.schema["ts"].dataType.typeName() == "long"  # nanosAsLong

    stream = all_queries()["stream_session_flush_final"].fn(spark, str(tmp_path))
    batch = all_queries()["events_session_window"].fn(spark, sf_dir)
    keys = ["user_id", "session_start", "n_events", "session_value"]
    assert _rows(stream, keys) == _rows(batch, keys)


def test_flush_removes_its_landing_dir(spark, sf_dir, monkeypatch):
    """The landing dir (events symlink + sentinel) and the sentinel's
    staging dir are scratch: nothing the returned memory table reads
    lives there, so the drain removes both."""
    import os

    from distributed_map_reduce_spark.streaming import jobs

    made = []

    def recorded(name):
        made.append(scratch_dir(name))
        return made[-1]

    monkeypatch.setattr(jobs, "scratch_dir", recorded)
    out = all_queries()["stream_session_flush_final"].fn(spark, sf_dir)
    assert out.count() > 0
    assert [d for d in made if os.path.basename(d).startswith("stream_")]
    assert not [d for d in made if os.path.exists(d)]
