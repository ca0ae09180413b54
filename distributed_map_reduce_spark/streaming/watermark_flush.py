"""Append-mode Structured Streaming queries driven to a FINAL answer by
watermark flushing — the production "close the books" pattern.

The existing streaming twins (`streaming.jobs`) prove convergence in
tests using complete/update sinks; these queries instead run the
APPEND-mode topologies a real deployment uses (bounded state, emit-once
per finalized window) and still produce a deterministic, oracle-checkable
batch answer. The trick is the flush sentinel: next to the real events
file, the landing directory holds one tiny sentinel file whose event
time sits far in the future. Processing it advances the watermark past
every real window; the engine's no-data micro-batch that follows
therefore EMITS every real window (append mode emits a window only in
a batch *after* the watermark passes its end). Sentinel rows themselves
are filtered out of the result — their own windows never close, which
is exactly the append-mode contract.

This mirrors operational practice: Kafka pipelines emit broker-side
heartbeats / idle-timeout punctuations so watermarks advance past the
last business event and the tail windows drain. Here the "heartbeat" is
one extra parquet file in the landing directory.

Scale posture: identical to the production topology — state is bounded
by the watermark delay, every aggregation is partial (map-side) before
the keyed state store, the static dim join is a broadcast that adds no
state, and nothing ever holds the unbounded stream. The sentinel costs
one tiny file regardless of data scale.

Reference parity: the reference engine has no streaming surface at all
(SURVEY §2.3); this extends the repo's streaming tier, whose batch twins
(`streaming/batch_windows.py`) the driver already hash-verified.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .jobs import events_stream_dir, run_to_completion

FLUSH_TYPE = "__flush__"


def flushed_events_dir(
    spark: SparkSession, sf_dir: str, sentinel_type: str = FLUSH_TYPE
) -> tuple[str, object]:
    """A file-stream landing dir containing the real events parquet plus
    one sentinel parquet file 10 days after max(ts) — one row per entry
    of ``sentinel_type`` (pass a tuple when several filtered branches of
    the same source must each see their watermark advance, e.g. both
    sides of a stream-stream join).

    Returns (dir, schema). The sentinel's mtime is pinned AFTER the real
    file's so the source (oldest-first listing order) lists real → sentinel;
    a sentinel processed before the real data would instantly advance
    the watermark and drop every real event as late, so the ordering is
    asserted, not assumed.
    """
    d = events_stream_dir(sf_dir)
    real = os.path.join(d, "events.parquet")
    batch = spark.read.parquet(real)
    schema = batch.schema
    max_ts = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
    real_mtime = os.stat(real).st_mtime  # stat follows the symlink
    types = (
        [sentinel_type] if isinstance(sentinel_type, str) else list(sentinel_type)
    )
    sent = None
    for j, typ in enumerate(types):
        row = spark.range(1).select(
            F.lit(-(len(types) + j)).cast("bigint").alias("event_id"),
            (F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).cast(
                schema["ts"].dataType.simpleString()
            ).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit(typ).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        sent = row if sent is None else sent.unionByName(row)
    tmp = tempfile.mkdtemp(prefix="dmrs_sentinel_")
    sent.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    dst = os.path.join(d, "zz_sentinel.parquet")
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp, ignore_errors=True)
    mtime = max(time.time(), real_mtime + 60.0)
    os.utime(dst, times=(mtime, mtime))
    assert os.stat(dst).st_mtime > real_mtime, "sentinel must list after real file"
    return d, schema


def read_flushed_events(
    spark: SparkSession, sf_dir: str, sentinel_type: str = FLUSH_TYPE
) -> DataFrame:
    """Streaming read over real events + flush sentinels.

    All files land in ONE micro-batch (no ``maxFilesPerTrigger``): the
    per-batch cost of the stateful operators is flat in input size
    (state-store open/scan/commit across every shuffle partition), so a
    batch per file would be almost pure overhead. Every real row is
    processed with the initial watermark (nothing can be dropped as
    late; late-filtering uses the watermark fixed at batch start), the
    sentinel advances the watermark AFTER that batch, and the engine's
    no-data micro-batch (``noDataMicroBatches.enabled``, pinned true in
    session._RUNTIME_CONFS) runs the final eviction pass that emits
    every closed window/join row. Emission CONTENT is batching-
    independent: append mode emits exactly the rows whose window the
    watermark passed.
    """
    d, schema = flushed_events_dir(spark, sf_dir, sentinel_type)
    stream = spark.readStream.schema(schema).parquet(d)
    # Watermarks require session-TZ TIMESTAMP; the parquet carries
    # TIMESTAMP_NTZ(µs) — same normalization policy as
    # jobs.read_events_stream / sources.catalog.load_table.
    from pyspark.sql import types as T

    if not isinstance(schema["ts"].dataType, T.TimestampType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


@register(
    "stream_session_flush_final",
    tags=("streaming", "window", "sessionization"),
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def stream_session_flush_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode streaming session windows (30-min gap, 10-min
    watermark), drained to a final answer by the flush sentinels; must
    equal the batch sessionization exactly (same oracle as
    `events_session_window`, whose lag/cumsum rewrite pins tie order —
    Spark's session end is exclusive, so a gap of exactly 30 min starts
    a new session, matching the oracle's `>=`).

    Unlike `streaming.jobs.session_values` (complete-mode test path),
    append mode emits each session ONCE, after the watermark passes its
    close — the emit-once contract downstream sinks rely on. The
    sentinel user (-1) holds the only never-closed sessions and is
    filtered; every real session is provably final.
    """
    events = read_flushed_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    out = run_to_completion(spark, agg, "session_flush_final", mode="append")
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_sliding_flush_final",
    tags=("streaming", "window"),
    oracle="""
WITH buckets AS (
  SELECT unnest([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTE]) AS window_start,
         event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT window_start, event_type, count(*) AS n_events,
       round(CAST(sum(cents) * 100 AS DOUBLE) / count(*)) / 10000.0 AS avg_value
FROM buckets
GROUP BY 1, 2
""",
)
def stream_sliding_flush_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode sliding windows (10-min length, 5-min slide) over the
    event stream, drained by the flush sentinels; each (window, type)
    row is emitted exactly once, after finalization, and the union must
    equal the batch twin `events_sliding_window` (same oracle, same
    integer-cents avg discipline — round 6 second-scale gate fix).
    Sentinel rows aggregate under their own event_type and are filtered
    out."""
    events = read_flushed_events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    avg4 = (
        F.round((F.sum("cents") * 100).cast("double") / F.count(F.lit(1))) / 10000.0
    )
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            avg4.alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )
    out = run_to_completion(spark, agg, "sliding_flush_final", mode="append")
    return out.filter(F.col("event_type") != FLUSH_TYPE)


@register(
    "stream_chained_time_windows",
    tags=("streaming", "window"),
    oracle="""
WITH five AS (
  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w5,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT time_bucket(INTERVAL '1 hour', w5) AS hour_start, event_type,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(n) AS BIGINT) AS max_5min_events,
       CAST(sum(n) AS BIGINT) AS total_events
FROM five
GROUP BY 1, 2
""",
)
def stream_chained_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful operators in ONE streaming query (Spark 3.5+/4
    multiple-stateful-operator support): a 5-minute tumbling count per
    event type re-aggregated into hourly rollups via `window_time()` —
    the streaming form of a tiered rollup (raw → 5min → 1h), computed
    in a single pass with two state stores instead of two jobs.

    Both operators run in append mode; the watermark propagates through
    the first aggregation (delayed by its window size) so the hourly
    layer finalizes once the 5-min layer beneath it has. The flush
    sentinels drain both layers; sentinel rows carry their own
    event_type and are filtered."""
    events = read_flushed_events(spark, sf_dir)
    five = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w5"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hourly = (
        five.groupBy(
            F.window(F.window_time("w5"), "1 hour").alias("wh"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_5min_events"),
            F.sum("n").alias("total_events"),
        )
        .select(
            F.col("wh.start").alias("hour_start"),
            "event_type",
            "n_buckets",
            "max_5min_events",
            "total_events",
        )
    )
    out = run_to_completion(spark, hourly, "chained_time_windows", mode="append")
    return out.filter(F.col("event_type") != FLUSH_TYPE)


@register(
    "stream_segment_enrichment_final",
    tags=("streaming", "join", "window"),
    oracle="""
SELECT time_bucket(INTERVAL '15 minutes', CAST(e.ts AS TIMESTAMP)) AS window_start,
       c.c_mktsegment AS segment,
       count(*) AS n_purchases,
       round(sum(e.value), 2) AS segment_revenue
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1, 2
""",
)
def stream_segment_enrichment_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode stream-static enrichment drained to a final answer:
    purchases joined to the broadcast customer dim (no streaming state
    added by the join), aggregated per (segment, 15-min window), flushed
    by the sentinels. Must equal the batch twin
    `events_segment_enrichment` (same oracle).

    The sentinels are typed 'purchase' with user_id=-1 so they pass the
    pre-watermark filter (a row dropped before the watermark operator
    would never advance it) and are then discarded by the inner dim
    join — the watermark advances on rows the aggregate never sees."""
    from ..sources import load_table

    events = read_flushed_events(spark, sf_dir, sentinel_type="purchase")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("segment_revenue"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_purchases",
            "segment_revenue",
        )
    )
    out = run_to_completion(spark, agg, "segment_enrichment_final", mode="append")
    return out


@register(
    "stream_interval_left_join_flush",
    tags=("streaming", "join"),
    oracle="""
WITH c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
         round(value, 2) AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.click_id, c.user_id, c.click_ts,
       p.purchase_id, p.purchase_ts, p.purchase_value
FROM c LEFT JOIN p
  ON p.user_id = c.user_id
 AND p.purchase_ts > c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
""",
)
def stream_interval_left_join_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join drained to a final
    answer: clicks joined to same-user purchases in the following hour,
    where an UNMATCHED click emits its null-padded row only once the
    watermark proves no matching purchase can still arrive (click_ts +
    1h + watermark delay) — the semantics that make outer streaming
    joins fundamentally harder than inner ones (the engine must decide
    'never' under late data). The flush sentinels advance BOTH inputs'
    watermarks (one sentinel row per side, user -1) so every real
    click's fate — matched rows and null-padded no-sale rows alike —
    is finalized; the result equals the batch LEFT JOIN exactly.

    State bound: each side holds rows for (1h band + 2h watermark);
    the inner-join twin `events_click_to_purchase` was driver-green r2,
    this adds the outer-emission path."""
    events = read_flushed_events(
        spark, sf_dir, sentinel_type=("click", "purchase")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 2).alias("purchase_value"),
        )
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )
    out = run_to_completion(spark, joined, "interval_left_join_flush", mode="append")
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_interval_full_join_flush",
    tags=("streaming", "join"),
    oracle="""
WITH c AS (
  SELECT event_id AS click_id, user_id AS c_uid, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id AS p_uid, CAST(ts AS TIMESTAMP) AS purchase_ts,
         round(value, 2) AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.click_id, coalesce(c.c_uid, p.p_uid) AS user_id, c.click_ts,
       p.purchase_id, p.purchase_ts, p.purchase_value
FROM c FULL OUTER JOIN p
  ON p.p_uid = c.c_uid
 AND p.purchase_ts > c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
""",
)
def stream_interval_full_join_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join drained to a final
    answer — BOTH no-sale clicks (null purchase side) and organic
    purchases with no preceding click (null click side) must emit, each
    only after the watermark proves its window of possible partners is
    closed. This completes the streaming join triple (inner r2, left
    outer above): full outer is the attribution-complete form — every
    touchpoint AND every conversion appears exactly once, matched where
    the interval allows. Dual-side sentinels close both state stores;
    result equals the batch FULL OUTER JOIN."""
    events = read_flushed_events(
        spark, sf_dir, sentinel_type=("click", "purchase")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_uid"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_uid"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 2).alias("purchase_value"),
        )
    )
    joined = c.join(
        p,
        (F.col("c_uid") == F.col("p_uid"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        "click_id",
        F.coalesce(F.col("c_uid"), F.col("p_uid")).alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )
    out = run_to_completion(spark, joined, "interval_full_join_flush", mode="append")
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_session_dynamic_gap_flush",
    tags=("streaming", "window", "sessionization"),
    oracle="""
WITH g AS (
  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN event_type = 'purchase'
              THEN INTERVAL 60 MINUTE ELSE INTERVAL 15 MINUTE END AS gap
  FROM events
), marked AS (
  SELECT user_id, event_id, ts, value, gap,
         CASE WHEN ts >= max(ts + gap)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_session
  FROM g
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def stream_session_dynamic_gap_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode streaming sessions with a PER-ROW gap expression
    (purchases hold sessions open 60 min, everything else 15) drained
    to a final answer by the flush sentinels — the streaming twin of
    [[events_session_dynamic_gap]] under the emit-once contract of
    [[stream_session_flush_final]]: each dynamic-gap session is emitted
    exactly once, after the watermark proves no event can extend it
    (the 60-min purchase gap just means the state lingers longer before
    the close — the watermark bound is unchanged because it tracks
    event time, not gap width). Same batch oracle as the batch twin
    (running-max boundary rewrite, tie order pinned by event_id); the
    sentinel user (-1) holds the only never-closed sessions and is
    filtered."""
    events = read_flushed_events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("15 minutes")
    )
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    out = run_to_completion(spark, agg, "session_dynamic_gap_flush", mode="append")
    return out.filter(F.col("user_id") >= 0)
