"""Structured Streaming over the events parquet as a file stream: the one
events-stream reader, the one drain, the one foreachBatch directory swap,
and the registered streaming jobs whose final state is oracle-checked.

A streaming query here and its batch twin share one builder per
event-time topology (`streaming.batch_windows`): the builder carries the
watermark, and a batch plan drops it. The registry's batch contract (a
query returns a DataFrame) can't compare a running sink, so correctness
is established two ways: (a) the batch twins hash-match DuckDB, and
(b) a drained stream over the same builder must equal its batch twin
(tests/test_streaming.py, and the oracles the registered jobs below
share with their batch twins).

Scale posture: watermarks bound state; `complete` mode is used only for
bounded-cardinality results; real deployments use append +
checkpointing to an object store, with `foreachBatch` for exactly-once
sinks.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..plans.kv_queries import CDC_APPLY_ORACLE, change_feed
from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table, normalize_events_ts
from ..sources.scratch import scratch_dir
from .batch_windows import tumbling_counts


def events_stream_dir(sf_dir: str) -> str:
    """The file-stream source monitors a *directory*; expose the single
    events parquet through a temp-dir symlink (at scale this is the
    landing directory new files arrive into)."""
    d = scratch_dir("stream")
    # abspath: a relative sf_dir would otherwise become a relative symlink
    # TARGET, which resolves against the /tmp dir, not the caller's cwd
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(d, "events.parquet"),
    )
    return d


def _land_sentinels(
    spark: SparkSession, landing: str, raw: DataFrame, sentinel_type: str | tuple[str, ...]
) -> None:
    """Add one sentinel parquet file to `landing`: event time 10 days
    after max(ts), one row per entry of ``sentinel_type`` (a tuple when
    several filtered branches of the same source must each see their
    watermark advance, e.g. both sides of a stream-stream join), user -1.
    The ts column is written in the raw file's type, because the stream
    reads both files with the raw schema.

    The sentinel's mtime is pinned AFTER the real file's so the source
    (oldest-first listing order) lists real → sentinel; a sentinel
    processed before the real data would instantly advance the watermark
    and drop every real event as late, so the ordering is asserted, not
    assumed."""
    types = [sentinel_type] if isinstance(sentinel_type, str) else list(sentinel_type)
    ts_type = raw.schema["ts"].dataType
    max_ts = normalize_events_ts(raw).agg(F.max("ts")).first()[0]
    later = F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")
    if isinstance(ts_type, T.LongType):
        later = F.unix_micros(later) * 1000  # back to the file's epoch-nanos
    sent = spark.range(1).select(
        F.posexplode(F.array(*map(F.lit, types))).alias("j", "event_type")
    ).select(
        (-(F.col("j") + len(types))).cast("bigint").alias("event_id"),
        later.cast(ts_type).alias("ts"),
        F.lit(-1).cast("bigint").alias("user_id"),
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    tmp = scratch_dir("sentinel")
    sent.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    dst = os.path.join(landing, "zz_sentinel.parquet")
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp, ignore_errors=True)
    real_mtime = os.stat(os.path.join(landing, "events.parquet")).st_mtime  # follows the symlink
    mtime = max(time.time(), real_mtime + 60.0)
    os.utime(dst, times=(mtime, mtime))
    assert os.stat(dst).st_mtime > real_mtime, "sentinel must list after real file"


@contextmanager
def read_events_stream(
    spark: SparkSession, sf_dir: str, sentinel_type: str | tuple[str, ...] | None = None
) -> Iterator[DataFrame]:
    """File-source stream over the events parquet, ts normalized by
    `sources.normalize_events_ts` — one policy for the batch table and
    the stream. The stream's schema is the file's own (one batch read of
    the footer), so a regenerated events.parquet with nanos-long or
    tz-adjusted timestamps cannot diverge batch vs streaming.

    Without ``sentinel_type`` the source takes one file per trigger. With
    it, the landing dir also holds a flush sentinel (`_land_sentinels`)
    and every file lands in ONE micro-batch: the per-batch cost of the
    stateful operators is flat in input size (state-store
    open/scan/commit across every shuffle partition), so a batch per file
    would be almost pure overhead. Every real row is processed with the
    initial watermark (nothing can be dropped as late; late-filtering
    uses the watermark fixed at batch start), the sentinel advances the
    watermark AFTER that batch, and the engine's no-data micro-batch
    (``noDataMicroBatches.enabled``, pinned true in
    session._RUNTIME_CONFS) runs the final eviction pass that emits every
    closed window/join row. Emission CONTENT is batching-independent:
    append mode emits exactly the rows whose window the watermark passed.

    Yields the stream and removes the landing dir on exit, so drain it
    inside the ``with`` block."""
    landing = events_stream_dir(sf_dir)
    try:
        raw = spark.read.parquet(os.path.join(landing, "events.parquet"))
        reader = spark.readStream.schema(raw.schema)
        if sentinel_type is None:
            reader = reader.option("maxFilesPerTrigger", 1)
        else:
            _land_sentinels(spark, landing, raw, sentinel_type)
        yield normalize_events_ts(reader.parquet(landing))
    finally:
        shutil.rmtree(landing, ignore_errors=True)


def drain(writer: DataStreamWriter, *scratch: str) -> None:
    """Run a bounded stream to its end — start, process everything
    available, stop — then remove the ``scratch`` dirs (checkpoints,
    staged input) that nothing reads afterwards."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        for d in scratch:
            shutil.rmtree(d, ignore_errors=True)


def run_to_completion(spark: SparkSession, agg: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drain `agg` through a memory sink and return the final result
    table (it reads nothing on disk)."""
    drain(agg.writeStream.outputMode(mode).format("memory").queryName(name))
    return spark.table(name)


def swap_in(df: DataFrame, path: str, batch_id: int) -> None:
    """Replace the parquet dir at `path` with `df`, which may read `path`.
    Never overwrite the path a batch just read in place: write the new
    generation to a temp dir, then swap via rename. A crash between the
    renames leaves either the old or the new complete generation, never a
    torn one. (On object stores this step becomes a Delta/Iceberg commit;
    rename is the local-FS equivalent.)"""
    tmp = f"{path}.__tmp_b{batch_id}"
    retired = f"{path}.__old_b{batch_id}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(path):
        os.rename(path, retired)
    os.rename(tmp, path)
    shutil.rmtree(retired, ignore_errors=True)


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Watermarked dropDuplicates — one state row per (user, type, ts)."""
    return events.withWatermark("ts", "30 minutes").dropDuplicates(
        ["user_id", "event_type", "ts"]
    )


def idempotent_batch_sink(path: str):
    """foreachBatch writer with replay-safe (exactly-once) semantics:
    each micro-batch lands in its own `batch_id=N` partition with
    dynamic-overwrite, so re-delivery of a batch after a crash
    OVERWRITES its own partition instead of appending duplicates —
    batch_id is Spark's replay-stable epoch. This plus checkpointed
    offsets is the standard exactly-once file-sink recipe; at 100 TB the
    same function targets an object store and the overwrite is a
    partition-scoped atomic commit."""

    def write(batch_df, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return write


def incremental_view_sink(path: str):
    """foreachBatch maintainer for a streaming materialized view: each
    micro-batch's per-user (count, cents) partial aggregate MERGES into
    the standing parquet view — read old, union, re-aggregate, swap in —
    so refresh cost scales with |batch| + |view|, never with history.
    The same count/sum-monoid algebra as
    operators.joins.cdc_incremental_join_agg, driven by real streaming
    epochs; at 100 TB the swap targets a keyed Delta MERGE instead of a
    full view rewrite, with identical semantics."""

    def write(batch_df, batch_id: int) -> None:
        view = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(to_cents("value")).alias("cents"),
        )
        # First batch only: the view doesn't exist yet. Any OTHER read
        # failure (transient IO, partial file) must propagate — a bare
        # fallback here would silently reset the view to one batch's
        # delta and lose all accumulated history.
        if os.path.isdir(path):
            view = (
                batch_df.sparkSession.read.parquet(path)
                .unionByName(view)
                .groupBy("user_id")
                .agg(F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents"))
            )
        swap_in(view, path, batch_id)

    return write


def _replayed_events(events: DataFrame) -> DataFrame:
    """Simulate at-least-once delivery: every third event is delivered
    twice (a second copy unioned in). Both copies are identical rows —
    exactly what a retried producer or a replayed Kafka offset emits."""
    return events.unionByName(events.filter(F.col("event_id") % 3 == 0))


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id over the replayed
    stream: exactly-once restoration from at-least-once delivery. Unlike
    plain dropDuplicates (streaming_dedup above), the WithinWatermark
    variant GC's each key's state once the watermark passes it, so state
    is bounded by the dup-arrival horizon, not the stream's lifetime key
    cardinality — the form that survives an unbounded deployment."""
    return (
        _replayed_events(events)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )


@register(
    "stream_dedup_replay_exactly_once",
    tags=("streaming", "dedup"),
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(count(*) + sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_delivered
FROM events
GROUP BY event_type
""",
)
def stream_dedup_replay_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once from at-least-once: replay every third event (dup
    delivery), dedupe with dropDuplicatesWithinWatermark(event_id), and
    count per event_type. Post-dedup counts must equal the clean batch
    group-by — the oracle also pins the delivered (with-dup) volume the
    dedup had to absorb, computed arithmetically from the replay rule.

    The dedup emits in append mode (each event exactly once across all
    micro-batches); counts aggregate the completed memory-sink table as
    a batch, so the returned DataFrame is a stable 5-row summary."""
    with read_events_stream(spark, sf_dir) as events:
        deduped = run_to_completion(
            spark, dedup_within_watermark(events), "dedup_replay_eo", mode="append"
        )
    delivered = F.when(F.col("event_id") % 3 == 0, 2).otherwise(1)
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.sum(delivered).cast("bigint").alias("n_delivered"),
    )


@register(
    "stream_incremental_view_maintenance",
    tags=("streaming", "ivm", "sink"),
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum({to_cents_sql("value")}) AS BIGINT) AS cents
FROM events
GROUP BY user_id
""",
)
def stream_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance, end to end and
    oracle-checked: the event stream drives `incremental_view_sink`
    (foreachBatch partial-agg merge with atomic temp-dir swap) to
    completion, and the FINAL standing view must equal the one-shot
    batch group-by — proving the per-epoch merge algebra
    (count/sum-monoid union + re-aggregate) loses nothing across
    micro-batch boundaries. Refresh cost per epoch is |batch| + |view|,
    never history; the swap leaves old-or-new complete, never torn."""
    view_dir = scratch_dir("ivm")
    view = os.path.join(view_dir, "user_totals_view")
    ckpt = os.path.join(view_dir, "ckpt")
    with read_events_stream(spark, sf_dir) as stream:
        drain(
            stream.writeStream.foreachBatch(incremental_view_sink(view))
            .option("checkpointLocation", ckpt),
            ckpt,
        )
    return spark.read.parquet(view).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("cents").cast("bigint").alias("cents"),
    )


@register(
    "stream_trigger_available_now",
    tags=("streaming",),
    oracle="""
SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def stream_trigger_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow (Spark 3.3+): the production way to drain a
    bounded backlog — the query plans ALL currently-available input
    into rate-limited micro-batches, then STOPS ON ITS OWN (unlike
    processAllAvailable, which is a test-harness wait on a running
    query, and unlike the deprecated Trigger.Once, which ignored rate
    limits). The scheduled nightly catch-up job over a file/Kafka
    backlog is exactly this form. Complete-mode tumbling counts over
    the drained stream must equal the batch group-by (the oracle)."""
    with read_events_stream(spark, sf_dir) as events:
        q = (
            tumbling_counts(events)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("avail_now_drain")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()  # self-terminates once the backlog is drained
    return spark.table("avail_now_drain")


@register(
    "stream_trending_topk",
    tags=("streaming", "topk"),
    oracle="""
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
         event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rnk
  FROM counts
) WHERE rnk <= 3
""",
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-items leaderboard: hourly windowed counts per
    event type maintained by the streaming engine (complete-mode state),
    ranked to a per-window top-3 AFTER the drain — the composition a
    trending dashboard runs every refresh (rank over the live
    aggregation state, not inside it: ranking is not an incremental
    streaming operator, so production puts it in the read path /
    foreachBatch, exactly as modeled here). The drained leaderboard must
    equal the batch rank over the same counts."""
    with read_events_stream(spark, sf_dir) as events:
        counts = (
            events.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        )
        drained = run_to_completion(spark, counts, "trending_counts", mode="complete")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        drained.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    )


def cdc_apply_sink(path: str):
    """foreachBatch CDC applier: each micro-batch unions into the standing
    state and one keep-latest window per key (max seq) reduces the union —
    an ORDER-INSENSITIVE merge (max is commutative/associative and seq is
    unique), so any micro-batch arrival order yields the same state.
    Tombstones are KEPT in state rather than dropped: a delete must keep
    shadowing earlier puts that might arrive in later
    (replayed/out-of-order) batches — dropping it would resurrect the
    key. The read path filters them. Same atomic directory swap as
    incremental_view_sink."""

    def write(batch_df, batch_id: int) -> None:
        ops = batch_df
        if os.path.isdir(path):
            ops = batch_df.sparkSession.read.parquet(path).unionByName(batch_df)
        w = Window.partitionBy("key").orderBy(F.col("seq").desc())
        latest = ops.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        swap_in(latest.drop("_rn"), path, batch_id)

    return write


@register("stream_cdc_apply_changes", tags=("streaming", "cdc", "kv"), oracle=CDC_APPLY_ORACLE)
def stream_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the micro-batch twin of the batch
    `kv_cdc_tombstone_apply`: the change feed (`change_feed`, put/delete
    per key, seq-ordered) is staged as FOUR range files so the file
    source genuinely delivers four epochs, `cdc_apply_sink` folds each
    into the standing store state by commutative max-seq merge
    (tombstones retained in-state so later batches cannot resurrect
    deleted keys), and the final live view must hash-match the one-shot
    batch window. Per-epoch cost is |batch| + |state| — the Delta
    `APPLY CHANGES` / Debezium-sink shape; at 100 TB the swap becomes a
    keyed MERGE commit with identical algebra. Only the state dir
    outlives the call."""
    work = scratch_dir("cdc")
    landing, state, ckpt = (os.path.join(work, d) for d in ("landing", "state", "ckpt"))
    ops = change_feed(load_table(spark, sf_dir, "events"))
    ops.repartitionByRange(4, "seq").write.parquet(landing)
    stream = (
        spark.readStream.schema("key string, op string, value double, seq bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    drain(
        stream.writeStream.foreachBatch(cdc_apply_sink(state)).option("checkpointLocation", ckpt),
        landing,
        ckpt,
    )
    return (
        spark.read.parquet(state)
        .filter(F.col("op") != "delete")
        .select("key", "value")
    )
