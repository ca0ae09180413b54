"""Event-time windowing over the `events` table, and the one builder per
event-time topology.

The reference has no streaming (SURVEY.md §1.5); these are extension
operators defined from Spark's event-time model. Each topology below —
5-min tumbling counts, 10/5 sliding cents-average, sessions, segment
enrichment, the click→purchase interval join — is built by exactly one
function, and every caller runs it: the batch twin registered here (over
`load_table`, so it gets a DuckDB oracle), the complete-mode stream
tests/test_streaming.py drains, and the append-mode flush query in
`streaming.watermark_flush`. A builder carries its streaming watermark;
in a batch plan Catalyst's EliminateEventTimeWatermark drops it, so the
batch twin runs the plan it would run without one. A streaming query
that equals its batch twin therefore compares one definition on two
engines, not two copies.

Scale posture: windowed aggregation shuffles once on (window, key);
session windows merge per key; watermarks bound state at 100 TB/day
ingest. Timestamps are normalized to µs (sources.catalog) to match
DuckDB's NS→TIMESTAMP cast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Events and rounded value per (5-minute window, event type),
    10-minute watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_cents_avg(events: DataFrame) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide, 10-minute watermark):
    events and average value per (window, event type).

    avg_value follows the integer-cents discipline (the sf0.1 gate caught
    a 4dp-midpoint divergence without it): values quantize to exact
    integer cents per row, the ONLY float op is one identical
    bigint-ratio division on both engines, and the final round-to-integer's
    true midpoints are dyadic-exact doubles both engines round away from
    zero — so no summation order or decimal re-quantization can flip the
    last digit."""
    avg4 = (
        F.round((F.sum("cents") * 100).cast("double") / F.count(F.lit(1))) / 10000.0
    )
    return (
        events.withColumn("cents", to_cents("value"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), avg4.alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "avg_value")
    )


def purchase_gap() -> Column:
    """Per-row session gap: a purchase holds its session open 60 min,
    every other event 15."""
    return F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("15 minutes")
    )


def sessions(events: DataFrame, gap: str | Column) -> DataFrame:
    """Session windows per user (`gap` a duration or a per-row gap
    column), 10-minute watermark: session start, events and rounded value.
    Streaming state is the merged session ranges per user, GC'd as the
    watermark passes each session's close. Spark's session end is
    EXCLUSIVE: a gap of exactly `gap` starts a new session."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def click_purchase_join(events: DataFrame, how: str = "inner") -> DataFrame:
    """Clicks joined to same-user purchases within the following hour.
    Equi-key on user plus a time band: Spark plans the user_id exchange
    and applies the band as a post-join filter. Both sides carry a
    2-hour watermark so a stream can GC join state: each side holds rows
    for at most (1h band + 2h watermark). An outer join emits an
    unmatched row only once the watermark proves no partner can still
    arrive.

    Inner output: click_id, purchase_id, user_id, click_ts, purchase_ts,
    purchase_value. Outer output puts user_id (the click's, else the
    purchase's) second: click_id, user_id, click_ts, purchase_id, ...
    """
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
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 2).alias("purchase_value"),
        )
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )
    if how == "inner":
        return joined.select(
            "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "purchase_value"
        )
    return joined.select(
        "click_id",
        F.coalesce("c_user", "user_id").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def enriched_segment_windows(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: purchases joined to the customer market
    segment (broadcast dim keyed by user_id), revenue per (15-minute
    window, segment), 30-minute watermark.

    The static side needs NO watermark — Spark broadcasts/rescans it per
    micro-batch and the join adds no streaming state; only the windowed
    aggregate keeps state. This is the canonical 'enrich events with a
    slowly-changing dim' topology; at scale the dim side is a broadcast
    (or a Delta/parquet snapshot re-read per trigger for freshness).
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .join(F.broadcast(dim), "user_id")  # stream-static: no state added
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


# Oracles each batch twin shares with its streaming twin.
SLIDING_ORACLE = f"""
WITH buckets AS (
  SELECT unnest([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTE]) AS window_start,
         event_type, {to_cents_sql("value")} AS cents
  FROM events
)
SELECT window_start, event_type, count(*) AS n_events,
       round(CAST(sum(cents) * 100 AS DOUBLE) / count(*)) / 10000.0 AS avg_value
FROM buckets
GROUP BY 1, 2
"""

SESSION_ORACLE = """
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
SELECT user_id, min(ts) AS session_start, count(*) AS n_events, round(sum(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
"""

SEGMENT_ORACLE = """
SELECT time_bucket(INTERVAL '15 minutes', CAST(e.ts AS TIMESTAMP)) AS window_start,
       c.c_mktsegment AS segment,
       count(*) AS n_purchases,
       round(sum(e.value), 2) AS segment_revenue
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1, 2
"""


@register(
    "events_tumbling_window",
    bench=True,
    tags=("streaming", "window"),
    oracle="""
SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute event-time windows per event type."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@register("events_sliding_window", tags=("streaming", "window"), oracle=SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): every event lands in
    two windows — Spark expands them; the oracle unnests both buckets."""
    return sliding_cents_avg(load_table(spark, sf_dir, "events"))


@register(
    "events_session_window",
    tags=("streaming", "window", "sessionization"),
    oracle=SESSION_ORACLE,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user via F.session_window —
    the same merge semantics streaming state uses; the oracle builds
    sessions with the classic lag/gap/cumsum rewrite. Spark's session end
    is EXCLUSIVE (a gap of exactly 30 min starts a NEW session), so the
    oracle's gap predicate is `>=`, not `>`. Both oracle windows order by
    (ts, event_id) so tied timestamps can't flip a boundary row's session
    between runs."""
    return sessions(load_table(spark, sf_dir, "events"), "30 minutes")


@register(
    "events_dedup_first",
    tags=("streaming", "dedup"),
    oracle="""
SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS first_ts, value AS first_value
FROM (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keep-first — the batch twin of streaming
    `dropDuplicates` within a watermark (state = one row per key)."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", F.col("ts").alias("first_ts"), F.col("value").alias("first_value")
        )
    )


@register(
    "events_json_props",
    tags=("streaming", "json"),
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props column → typed key → agg
    (get_json_object stays JVM-side; at scale prefer from_json with an
    explicit schema so pruning still applies)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_mod"), "value"
        )
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "events_click_to_purchase",
    tags=("streaming", "join", "interval"),
    oracle="""
WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click'),
     p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase')
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       c.ts AS click_ts, p.ts AS purchase_ts,
       round(p.value, 2) AS purchase_value
FROM c JOIN p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def events_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution within 1 hour — the batch run of the
    stream-stream interval join `click_purchase_join`; state at 100 TB is
    bounded by watermark horizon × per-user event rate."""
    return click_purchase_join(load_table(spark, sf_dir, "events"))


@register(
    "events_segment_enrichment",
    tags=("streaming", "join", "window"),
    oracle=SEGMENT_ORACLE,
)
def events_segment_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase revenue per (15-minute window, market segment) — the
    batch run of the stream-static enrichment `enriched_segment_windows`;
    tests/test_streaming.py proves the readStream form converges to this
    exact result on a drained bounded stream."""
    return enriched_segment_windows(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


@register(
    "events_session_dynamic_gap",
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
  SELECT user_id, ts, value, gap,
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
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose inactivity gap is a PER-ROW expression
    (purchases hold a session open 60 min, everything else 15) —
    Spark's dynamic-gap `session_window`. Semantics: each event extends
    its session to ts + gap(event); events merge while they start
    before the running max of those ends, so the oracle's rewrite marks
    a boundary when ts >= max(ts+gap) over all PRECEDING rows (running
    max, not plain lag — a long-gap event can bridge over a short-gap
    one). Same single user_id exchange as the static form; state in the
    streaming twin stays watermark-bounded regardless of gap column."""
    return sessions(load_table(spark, sf_dir, "events"), purchase_gap())


@register(
    "events_sliding_distinct_users",
    tags=("streaming", "window", "distinct"),
    oracle="""
WITH pairs AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events
), days AS (
  SELECT DISTINCT day FROM pairs
), contrib AS (
  SELECT p.user_id, d.day
  FROM pairs p JOIN days d
    ON d.day >= p.day AND d.day < p.day + INTERVAL 7 DAY
)
SELECT day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_7d
FROM contrib GROUP BY day
""",
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the windowed
    COUNT(DISTINCT) that naive window frames cannot express (distinct
    isn't frame-decomposable) and sketches only approximate. The exact
    scalable form: dedup to (day, user) presence pairs FIRST (collapsing
    the fact table to activity cardinality), fan each pair out to the ≤7
    trailing days it covers, and count distinct per day. Shuffle volume
    is 7×|presence pairs| — independent of raw event count — which is
    why production DAU/WAU pipelines run exactly this shape at 100 TB;
    the HLL twin (`agg_hll_rollup`) replaces the final distinct when ±2%
    is acceptable."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    # explode each presence pair into the 7 trailing days it covers —
    # pure equi fan-out, no range join; then keep only days that exist
    # in the data (semi join against the tiny day grid)
    contrib = pairs.select(
        "user_id",
        F.explode(
            F.sequence(
                "day",
                F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d"),
    )
    days = pairs.select(F.col("day").alias("d")).distinct()
    return (
        contrib.join(days, "d", "left_semi")
        .groupBy(F.col("d").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users_7d"))
    )


@register(
    "events_attribution_linear",
    tags=("streaming", "join", "attribution"),
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts,
         round(value, 2) AS purchase_value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
  FROM events WHERE event_type = 'click'
), touched AS (
  SELECT p.purchase_id, p.user_id, p.purchase_value,
         CAST(count(c.cts) AS BIGINT) AS n_touches
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id
   AND c.cts < p.pts AND c.cts >= p.pts - INTERVAL 1 HOUR
  GROUP BY 1, 2, 3
)
SELECT purchase_id, user_id, purchase_value, n_touches,
       CASE WHEN n_touches > 0
            THEN round(purchase_value / n_touches, 4) END AS credit_per_touch
FROM touched
""",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    equally across the user's clicks in the preceding hour (NULL credit
    when no touch — those purchases route to a 'direct' bucket
    downstream). The equi-key user join carries the time band as a
    post-join filter — the same bounded-state interval-join shape as
    `events_click_to_purchase`, so the streaming twin inherits
    watermark-bounded state. Touch counts stay exact; the one division
    happens after the count aggregate."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.round("value", 2).alias("purchase_value"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("cts")
    )
    touched = (
        p.join(
            c,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("purchase_id", "p_user", "purchase_value")
        .agg(F.count("cts").cast("bigint").alias("n_touches"))
    )
    return touched.select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_value",
        "n_touches",
        F.when(
            F.col("n_touches") > 0,
            F.round(F.col("purchase_value") / F.col("n_touches"), 4),
        ).alias("credit_per_touch"),
    )


@register(
    "events_conversion_latency",
    tags=("streaming", "join", "stats"),
    oracle="""
WITH c AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
  FROM events WHERE event_type = 'purchase'
), first_conv AS (
  SELECT c.event_id,
         CAST(min(epoch_us(p.pts) - epoch_us(c.cts)) // 1000000 AS BIGINT)
           AS lag_s
  FROM c JOIN p
    ON p.user_id = c.user_id
   AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
  GROUP BY c.event_id
)
, ranked AS (
  SELECT lag_s,
         row_number() OVER (ORDER BY lag_s) AS rn,
         count(*) OVER () AS n
  FROM first_conv
)
SELECT CAST(max(n) AS BIGINT) AS n_converting_clicks,
       CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN lag_s END) AS BIGINT) AS p50_s,
       CAST(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN lag_s END) AS BIGINT) AS p90_s,
       CAST(max(lag_s) AS BIGINT) AS max_s
FROM ranked
""",
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion-latency distribution: for each click
    that converts within the hour, the seconds to its FIRST subsequent
    purchase; p50/p90/max over those lags — the funnel-health metric
    next to the conversion-rate counts (`events_funnel_conversion`).
    Lags are exact integer seconds (µs subtraction then floor-divide),
    and the percentiles are DISCRETE (an actual observed lag, identical
    on both engines — no interpolation arithmetic to diverge). Interval
    join is the same watermark-boundable shape as the attribution ops."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", F.col("user_id").alias("c_user"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    conv = (
        c.join(
            p,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("pts") > F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("event_id")
        .agg(
            F.floor(
                F.min(F.unix_micros("pts") - F.unix_micros("cts")) / 1000000
            )
            .cast("bigint")
            .alias("lag_s")
        )
    )
    # discrete percentile by explicit rank-pick (ceil(p*n)-th smallest):
    # percentile_disc/quantile_disc index rules differ across engines.
    # Rank-pick runs as the two-phase banded row_number over minute
    # buckets (tie order within a lag value cannot change the picked
    # VALUE, and the whole-frame count window is a broadcast scalar
    # instead)
    from ..operators.ranks import two_phase_ordered

    n_tot = conv.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = two_phase_ordered(
        conv, (F.col("lag_s") / 60).cast("bigint"), ["lag_s", "event_id"], rn="rn"
    ).crossJoin(F.broadcast(n_tot)).select("lag_s", "rn", "n")
    pick = lambda q: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
            F.col("lag_s"),
        )
    ).cast("bigint")
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converting_clicks"),
        pick(0.5).alias("p50_s"),
        pick(0.9).alias("p90_s"),
        F.max("lag_s").cast("bigint").alias("max_s"),
    )


@register(
    "events_hourly_heatmap",
    tags=("streaming", "window", "reshape"),
    oracle="""
SELECT CAST(CASE WHEN dayofweek(ts) = 0 THEN 7 ELSE dayofweek(ts) END AS BIGINT)
         AS iso_dow,
       CAST(hour(ts) AS BIGINT) AS hour_of_day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity matrix — the engagement
    heatmap behind every 'when are users active' dashboard. Day
    numbering is normalized to ISO (Mon=1..Sun=7) explicitly on both
    engines (Spark dayofweek is 1=Sunday, DuckDB's is 0=Sunday — a
    classic silent-skew trap). One hash-agg to a fixed 7×24 frame."""
    ev = load_table(spark, sf_dir, "events")
    # Spark dayofweek: 1=Sunday..7=Saturday → ISO Mon=1..Sun=7
    iso_dow = F.when(F.dayofweek("ts") == 1, 7).otherwise(F.dayofweek("ts") - 1)
    return ev.groupBy(
        iso_dow.cast("bigint").alias("iso_dow"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@register(
    "events_inter_arrival",
    tags=("streaming", "window", "stats"),
    oracle="""
WITH gaps AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP))
              - epoch_us(lag(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id))
              AS BIGINT) // 1000000 AS gap_s
  FROM events
), clean AS (SELECT user_id, gap_s FROM gaps WHERE gap_s IS NOT NULL)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       round(avg(gap_s), 4) AS avg_gap_s
FROM clean GROUP BY user_id
""",
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per user (seconds between
    consecutive events) — the burstiness profile that calibrates
    session-gap thresholds (`events_session_window`'s 30 min) and
    watermark horizons from data instead of folklore. One lag window
    and one agg on the same user_id exchange; gaps floor to exact
    integer seconds (the DuckDB-CAST-rounds trap again)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.floor(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1000000
        )
        .cast("bigint")
        .alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
        F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
    )


@register(
    "events_cumulative_users",
    tags=("streaming", "window", "growth"),
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS day
  FROM events GROUP BY user_id
), daily_new AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM first_seen GROUP BY day
)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily_new
""",
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: daily new users and the cumulative
    users-ever-seen curve. The scalable exact form — NOT a running
    count(DISTINCT) window (not frame-decomposable): each user reduces
    to a first-seen day, new-user counts aggregate per day, and ONE
    running sum over the day-cardinality frame yields the cumulative
    curve. Same collapse-then-window discipline as the sliding-DAU and
    streak operators."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("day")
    )
    daily_new = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)  # frame: bounded (day-grain)
    return daily_new.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "events_late_data_audit",
    bench=True,
    tags=("streaming", "window", "watermark"),
    oracle="""
WITH arr AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
         max(CAST(ts AS TIMESTAMP)) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_wm
  FROM events
)
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (WHERE ts < high_wm - INTERVAL 10 MINUTE) AS BIGINT)
         AS n_late
FROM arr
GROUP BY 1, 2
""",
)
def events_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting, batch-replayable: treating
    event_id as arrival order (the Kafka-offset analogue), an event is
    LATE when its event time trails the running max event time seen so
    far (the high watermark) by more than the 10-minute allowed
    lateness — exactly the rows a `withWatermark("ts", "10 minutes")`
    streaming aggregation would drop. Reported per 15-minute window per
    type, this is the audit that sizes a production watermark: n_late/
    n_events is the fraction of data a given bound sacrifices.

    The running max partitions by event_type (per-source watermarks, the
    per-partition watermark model), so no global single-partition window
    exists at scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.select(
        "event_type",
        "ts",
        (
            F.col("ts")
            < F.max("ts").over(w) - F.expr("INTERVAL 10 MINUTES")
        ).alias("is_late"),
    )
    return (
        flagged.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(F.col("is_late")).alias("n_late"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_late",
        )
    )


@register(
    "events_funnel_time_bound",
    tags=("streaming", "funnel", "interval"),
    oracle="""
WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'view'),
     c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'),
     s1 AS (SELECT DISTINCT user_id FROM v),
     s2 AS (
       SELECT DISTINCT v.user_id
       FROM v JOIN c ON c.user_id = v.user_id
         AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
     ),
     s3 AS (
       SELECT DISTINCT v.user_id
       FROM v
       JOIN c ON c.user_id = v.user_id
         AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
       JOIN p ON p.user_id = v.user_id
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
     )
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS step1_view_users,
       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS step2_click_1h_users,
       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS step3_purchase_1h_users,
       round((SELECT count(*) FROM s3) * 1.0
             / greatest((SELECT count(*) FROM s1), 1), 6) AS full_chain_rate
""",
)
def events_funnel_time_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel: users completing view→click→purchase
    where EACH step follows the previous within one hour (the
    `events_funnel_conversion` twin with per-step deadlines — unbounded
    funnels overcount casual sequences by matching across days).

    Exists-semantics per user (any qualifying chain counts once), so
    every stage is a user-keyed interval join immediately collapsed by
    DISTINCT — pair fan-out is bounded by the per-user event rate inside
    the window, the same state bound the streaming interval join
    carries. Three tiny scalar aggregates union into one 1-row report."""
    ev = load_table(spark, sf_dir, "events")

    def typed(t: str, prefix: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select(
            F.col("user_id").alias(f"{prefix}_uid"), F.col("ts").alias(f"{prefix}_ts")
        )

    v, c, p = typed("view", "v"), typed("click", "c"), typed("purchase", "p")
    hour = F.expr("INTERVAL 1 HOUR")
    s1 = v.select(F.col("v_uid").alias("user_id")).distinct()
    vc = v.join(
        c,
        (F.col("c_uid") == F.col("v_uid"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + hour),
    )
    s2 = vc.select(F.col("v_uid").alias("user_id")).distinct()
    s3 = (
        vc.join(
            p,
            (F.col("p_uid") == F.col("v_uid"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + hour),
        )
        .select(F.col("v_uid").alias("user_id"))
        .distinct()
    )
    a1 = s1.agg(F.count(F.lit(1)).alias("step1_view_users"))
    a2 = s2.agg(F.count(F.lit(1)).alias("step2_click_1h_users"))
    a3 = s3.agg(F.count(F.lit(1)).alias("step3_purchase_1h_users"))
    return (
        a1.crossJoin(a2)
        .crossJoin(a3)
        .select(
            "step1_view_users",
            "step2_click_1h_users",
            "step3_purchase_1h_users",
            F.round(
                F.col("step3_purchase_1h_users")
                / F.greatest(F.col("step1_view_users"), F.lit(1)),
                6,
            ).alias("full_chain_rate"),
        )
    )


@register(
    "events_dau_wau_stickiness",
    tags=("streaming", "window", "distinct"),
    oracle="""
WITH pairs AS (
  SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
         user_id
  FROM events
), days AS (
  SELECT DISTINCT day FROM pairs
), wau_contrib AS (
  SELECT p.user_id, d.day
  FROM pairs p JOIN days d
    ON d.day >= p.day AND d.day < p.day + INTERVAL 7 DAY
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day
), wau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM wau_contrib GROUP BY day
)
SELECT d.day, d.dau, w.wau,
       round(d.dau * 1.0 / w.wau, 6) AS stickiness
FROM dau d JOIN wau w USING (day)
""",
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness ratio per day — the
    engagement KPI trio. WAU reuses the bounded-explode trick from
    `events_sliding_distinct_users` (each (user, day) presence pair
    contributes to ≤7 trailing days — shuffle is 7× the presence pairs,
    independent of raw event volume); DAU is the plain per-day distinct;
    stickiness = DAU/WAU (DAU ⊆ WAU ⇒ ≤ 1 by construction)."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = pairs.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("d_off"),
        "day",
    ).select(
        "user_id", (F.col("day") + F.make_dt_interval(F.col("d_off"))).alias("day")
    )
    days = pairs.select("day").distinct()
    wau = (
        contrib.join(days, "day", "left_semi")
        .distinct()
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


PATH_GAP_MIN = 30  # session gap, minutes
PATH_TOPN = 20


@register(
    "events_top_paths",
    tags=("events", "stats"),
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {PATH_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM ordered
), paths AS (
  SELECT user_id, session_idx,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sessions
  GROUP BY user_id, session_idx
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOPN}
""",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: sessionize (gap > {PATH_GAP_MIN} min),
    concatenate each session's event types in (ts, event_id) order into
    a path string, and report the {PATH_TOPN} most common paths — the
    query behind "what do users actually do" dashboards and behavioral
    bot signatures. Tie order is pinned by event_id everywhere (tied
    timestamps must not flip a row between sessions).

    Scale: both windows and the path agg share ONE user_id exchange
    (same partitioning key), paths collapse to ≤ one row per session,
    and the final top-N is a TakeOrderedAndProject over the
    distinct-path counts."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(prev_ts)
            > PATH_GAP_MIN * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    sessions = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_session)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_idx"),
    )
    paths = (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOPN)
    )


CAP_GAP_US = 24 * 3600 * 1_000_000   # inactivity gap: 24 h
CAP_MAX_US = 72 * 3600 * 1_000_000   # hard session cap: 72 h


@register(
    "events_session_capped",
    tags=("events", "window", "session"),
    oracle=f"""
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > CAST({CAP_GAP_US} AS BIGINT)
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), anchored AS (
  SELECT user_id, ts, sid,
         epoch_us(min(ts) OVER (PARTITION BY user_id, sid)) AS s0
  FROM s
), capped AS (
  SELECT user_id, sid,
         (epoch_us(ts) - s0) // CAST({CAP_MAX_US} AS BIGINT) AS sub,
         ts
  FROM anchored
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id, CAST(sub AS BIGINT) AS sub_session,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM capped
GROUP BY user_id, sid, sub
""",
)
def events_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity sessionization WITH a hard duration cap (GA4-style:
    gap = 24 h, cap = 72 h): gap-based islands first, then any island
    longer than the cap splits into fixed 72 h sub-sessions anchored at
    the island start — integer division of the offset, no iteration
    (352 of 1214 fixture islands split, so the cap path is genuinely
    exercised). The cap is what bounds per-session state for any
    downstream per-session aggregate: without it a never-idle bot
    produces one unbounded session. Windows all order by (ts,
    event_id) — the pinned tie rule, so tied timestamps cannot flip
    a boundary row between runs — and
    arithmetic is integer microseconds end to end. Three windows over
    one (user) exchange + the final hash agg."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    brk = F.when(
        F.lag("ts").over(w).isNull()
        | (us - F.unix_micros(F.lag("ts").over(w)) > CAP_GAP_US),
        1,
    ).otherwise(0)
    s = ev.select("user_id", "ts", "event_id", brk.alias("brk")).withColumn(
        "sid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    s0 = F.unix_micros(
        F.min("ts").over(Window.partitionBy("user_id", "sid"))
    )
    capped = s.withColumn("sub", F.floor((us - s0) / CAP_MAX_US))
    return capped.groupBy(
        "user_id",
        F.col("sid").cast("bigint").alias("session_id"),
        F.col("sub").cast("bigint").alias("sub_session"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_attribution_position",
    tags=("streaming", "join", "attribution"),
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts,
         round(value, 2) AS purchase_value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
  FROM events WHERE event_type = 'click'
), touches AS (
  SELECT p.purchase_id, p.purchase_value, c.click_id,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.cts, c.click_id) AS pos,
         count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.cts < p.pts AND c.cts >= p.pts - INTERVAL 1 HOUR
)
SELECT purchase_id, click_id,
       CAST(pos AS BIGINT) AS pos,
       CAST(n_touches AS BIGINT) AS n_touches,
       round(purchase_value *
         CASE WHEN n_touches = 1 THEN 1e0
              WHEN n_touches = 2 THEN 0.5e0
              WHEN pos = 1 OR pos = n_touches THEN 0.4e0
              ELSE 0.2e0 / (n_touches - 2) END, 4) AS credit
FROM touches
""",
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution —
    the credit model that values discovery and closing over the middle
    (first and last click in the pre-purchase hour get 40% each, the
    interior splits the remaining 20%; 1 touch takes 100%, 2 touches
    50/50), emitted as one row PER TOUCH so the credit ledger joins
    straight onto campaign tables (vs [[events_attribution_linear]],
    which emits per-purchase equal splits). Touch order is pinned by
    (click ts, click_id) — the tied-timestamp discipline every
    session/window op here uses — so position credit is deterministic.
    The per-purchase credits sum EXACTLY to the purchase value (the
    property test pins the U-shape mass balance).

    Scale: the same user-keyed interval join as the linear model (the
    time band rides the equi-join as a filter, watermark-bounded in
    the streaming twin); the ranking window partitions by purchase_id
    — touches per purchase, never global."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.round("value", 2).alias("purchase_value"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
    )
    wpos = Window.partitionBy("purchase_id").orderBy("cts", "click_id")
    wcnt = Window.partitionBy("purchase_id")
    touches = (
        p.join(
            c,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "purchase_id",
            "purchase_value",
            "click_id",
            F.row_number().over(wpos).cast("bigint").alias("pos"),
            F.count(F.lit(1)).over(wcnt).cast("bigint").alias("n_touches"),
        )
    )
    weight = (
        F.when(F.col("n_touches") == 1, F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n_touches")), F.lit(0.4)
        )
        .otherwise(0.2 / (F.col("n_touches") - 2))
    )
    return touches.select(
        "purchase_id",
        "click_id",
        "pos",
        "n_touches",
        F.round(F.col("purchase_value") * weight, 4).alias("credit"),
    )
