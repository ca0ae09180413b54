"""Append-mode Structured Streaming queries driven to a FINAL answer by
watermark flushing — the production "close the books" pattern.

Each query runs the same topology builder as its batch twin
(`streaming.batch_windows`), but in the APPEND mode a real deployment
uses (bounded state, emit-once per finalized window), and still produces
a deterministic, oracle-checkable batch answer: each twin pair shares one
oracle. The trick is the flush sentinel: next to the real events file,
the landing directory holds one tiny sentinel file whose event time sits
far in the future (`jobs.read_events_stream` with a ``sentinel_type``).
Processing it advances the watermark past every real window; the
engine's no-data micro-batch that follows therefore EMITS every real
window (append mode emits a window only in a batch *after* the watermark
passes its end). Sentinel rows themselves are filtered out of the result
— their own windows never close, which is exactly the append-mode
contract.

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

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from .batch_windows import (
    SEGMENT_ORACLE,
    SESSION_ORACLE,
    SLIDING_ORACLE,
    click_purchase_join,
    enriched_segment_windows,
    purchase_gap,
    sessions,
    sliding_cents_avg,
)
from .jobs import read_events_stream, run_to_completion

FLUSH_TYPE = "__flush__"


def drain_flushed(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[DataFrame], DataFrame],
    name: str,
    sentinel_type: str | tuple[str, ...] = FLUSH_TYPE,
) -> DataFrame:
    """Drain ``build(events)`` in append mode over the events stream plus
    its flush sentinels (user -1, typed ``sentinel_type``) and return
    the final memory table; the landing dir is gone on return."""
    with read_events_stream(spark, sf_dir, sentinel_type) as events:
        return run_to_completion(spark, build(events), name, mode="append")


@register(
    "stream_session_flush_final",
    tags=("streaming", "window", "sessionization"),
    oracle=SESSION_ORACLE,
)
def stream_session_flush_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode streaming session windows (30-min gap, 10-min
    watermark), drained to a final answer by the flush sentinels; must
    equal the batch sessionization exactly (same oracle as
    `events_session_window`, whose lag/cumsum rewrite pins tie order —
    Spark's session end is exclusive, so a gap of exactly 30 min starts
    a new session, matching the oracle's `>=`).

    Unlike the complete-mode drain of the same `sessions` builder in
    tests/test_streaming.py, append mode emits each session ONCE, after the watermark passes its
    close — the emit-once contract downstream sinks rely on. The
    sentinel user (-1) holds the only never-closed sessions and is
    filtered; every real session is provably final.
    """
    out = drain_flushed(spark, sf_dir, lambda ev: sessions(ev, "30 minutes"), "session_flush_final")
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_sliding_flush_final",
    tags=("streaming", "window"),
    oracle=SLIDING_ORACLE,
)
def stream_sliding_flush_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode sliding windows (10-min length, 5-min slide) over the
    event stream, drained by the flush sentinels; each (window, type)
    row is emitted exactly once, after finalization, and the union must
    equal the batch twin `events_sliding_window` (same builder, same
    oracle, so the same integer-cents avg discipline).
    Sentinel rows aggregate under their own event_type and are filtered
    out."""
    out = drain_flushed(spark, sf_dir, sliding_cents_avg, "sliding_flush_final")
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

    def hourly(events: DataFrame) -> DataFrame:
        five = (
            events.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w5"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            five.groupBy(F.window(F.window_time("w5"), "1 hour").alias("wh"), "event_type")
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

    out = drain_flushed(spark, sf_dir, hourly, "chained_time_windows")
    return out.filter(F.col("event_type") != FLUSH_TYPE)


@register(
    "stream_segment_enrichment_final",
    tags=("streaming", "join", "window"),
    oracle=SEGMENT_ORACLE,
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
    customer = load_table(spark, sf_dir, "customer")
    return drain_flushed(
        spark,
        sf_dir,
        lambda ev: enriched_segment_windows(ev, customer),
        "segment_enrichment_final",
        sentinel_type="purchase",
    )


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
    the builder's inner form is the batch `events_click_to_purchase`,
    this adds the outer-emission path."""
    out = drain_flushed(
        spark,
        sf_dir,
        lambda ev: click_purchase_join(ev, "left_outer"),
        "interval_left_join_flush",
        sentinel_type=("click", "purchase"),
    )
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
    closed. This completes the streaming join triple (inner,
    left outer above): full outer is the attribution-complete form — every
    touchpoint AND every conversion appears exactly once, matched where
    the interval allows. Dual-side sentinels close both state stores;
    result equals the batch FULL OUTER JOIN."""
    out = drain_flushed(
        spark,
        sf_dir,
        lambda ev: click_purchase_join(ev, "full_outer"),
        "interval_full_join_flush",
        sentinel_type=("click", "purchase"),
    )
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
    out = drain_flushed(
        spark, sf_dir, lambda ev: sessions(ev, purchase_gap()), "session_dynamic_gap_flush"
    )
    return out.filter(F.col("user_id") >= 0)
