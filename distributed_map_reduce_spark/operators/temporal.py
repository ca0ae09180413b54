"""Temporal operators: as-of join and time-bucketed rollups.

Neither exists in the reference (SURVEY.md §2.3) nor as a single Spark
primitive — the as-of join here is the classic union-tag rewrite: tag
both streams, sort once per key by event time, and carry the reference
side forward with ``last(..., ignorenulls)``. One shuffle on the key,
no range-join explosion, no per-row Python — the scalable form of
"match each event to the latest earlier observation".

Scale posture: the union-tag rewrite costs exactly one exchange on
(user_id) plus one window sort — at 100 TB that is strictly cheaper
than the range-join alternative (equi key + inequality), which must
buffer whole key groups on the probe side. Ties are made deterministic
by pre-aggregating the reference side to one row per (key, ts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.measures import (
    sum_dollars_half_up,
    sum_dollars_half_up_sql,
    to_cents,
    to_cents_sql,
)
from ..registry import register
from ..sources import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str],
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    ``ts`` ≤ the left row's ``ts`` within the same ``key`` (backward
    as-of, DuckDB/pandas ``merge_asof`` semantics). ``right`` must be
    unique per (key, ts); pre-aggregate to guarantee that."""
    lt = left.withColumn("_src", F.lit(1))
    rt = right.withColumn("_src", F.lit(0))
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    for c in rt.columns:
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None))
    u = lt.unionByName(rt)
    # right rows sort before left rows at equal ts => ts-equality matches.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_src").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u
    for c in right_cols:
        carried = carried.withColumn(
            f"asof_{c}",
            F.last(F.when(F.col("_src") == 0, F.col(c)), ignorenulls=True).over(w),
        )
    return carried.filter(F.col("_src") == 1).drop("_src", *right_cols)


ASOF_CLICK_ORACLE = """
WITH c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.purchase_ts,
       c.click_ts AS asof_click_ts,
       c.click_value AS asof_click_value,
       CASE WHEN c.click_ts IS NULL THEN NULL
            ELSE date_diff('second', c.click_ts, p.purchase_ts) END AS lag_seconds
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
"""


@register(
    "asof_purchase_to_click",
    tags=("temporal", "asof", "join"),
    oracle=ASOF_CLICK_ORACLE,
)
def asof_purchase_to_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at or
    before it (attribution). DuckDB's native ASOF JOIN is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("value").alias("click_value"))
        .select("user_id", F.col("click_ts").alias("ts"), "click_ts", "click_value")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("ts").alias("purchase_ts"), "value"
    )
    joined = asof_join(
        purchases, clicks, key="user_id", ts="ts", right_cols=["click_ts", "click_value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "purchase_ts",
        "asof_click_ts",
        "asof_click_value",
        (
            F.when(
                F.col("asof_click_ts").isNotNull(),
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("asof_click_ts"),
            )
        ).alias("lag_seconds"),
    )


@register(
    "rollup_hourly_daily",
    tags=("temporal", "rollup"),
    oracle=f"""
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_start,
         event_type, count(*) AS n,
         CAST(sum({to_cents_sql("value")}) AS BIGINT) AS total_cents
  FROM events GROUP BY 1, 2
)
SELECT 'hour' AS grain, bucket_start, event_type, n, total_cents FROM hourly
UNION ALL
SELECT 'day' AS grain, date_trunc('day', bucket_start) AS bucket_start, event_type,
       CAST(sum(n) AS BIGINT) AS n, CAST(sum(total_cents) AS BIGINT) AS total_cents
FROM hourly GROUP BY 2, 3
""",
)
def rollup_hourly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: the daily grain re-aggregates
    the hourly grain (not the raw events) — the continuous-aggregate
    pattern that keeps 100 TB rollups incremental. Money is integer cents
    (events.value is 2-dp); the oracle CASTs every re-aggregated sum to
    BIGINT because DuckDB promotes summed BIGINT to HUGEINT, which pandas
    renders float64 and the dtype-sensitive driver hash rejects."""
    ev = load_table(spark, sf_dir, "events")
    cents = to_cents("value")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("total_cents"))
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket_start").alias("bucket_start"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("total_cents").alias("total_cents"))
    )
    return hourly.select(F.lit("hour").alias("grain"), "*").unionByName(
        daily.select(F.lit("day").alias("grain"), "*")
    )


@register(
    "temporal_ohlc_downsample",
    tags=("temporal", "agg"),
    oracle="""
SELECT event_type,
       time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
       round(arg_min(value, CAST(ts AS TIMESTAMP)), 4) AS open,
       round(max(value), 4)                            AS high,
       round(min(value), 4)                            AS low,
       round(arg_max(value, CAST(ts AS TIMESTAMP)), 4) AS close,
       CAST(count(*) AS BIGINT)                        AS n_ticks
FROM events
GROUP BY 1, 2
""",
)
def temporal_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-series downsampling: open/high/low/close per 15-minute
    bucket per event type — the canonical tick→bar resample. min_by/
    max_by (Spark) ≙ arg_min/arg_max (DuckDB) pick the first/last value
    by timestamp inside one hash aggregate: no window, no self-join,
    one exchange on (type, bucket).

    Tie discipline: the synthetic events carry unique (type, ts) pairs
    per bucket edge, so arg extremes are deterministic; production data
    would arg over a (ts, event_id) struct to break ties stably."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.window("ts", "15 minutes")
    return (
        ev.groupBy("event_type", bucket.alias("w"))
        .agg(
            F.round(F.min_by("value", "ts"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", "ts"), 4).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "event_type", F.col("w.start").alias("bucket"),
            "open", "high", "low", "close", "n_ticks",
        )
    )


@register(
    "temporal_gap_fill",
    tags=("temporal", "window"),
    oracle=f"""
WITH hourly AS (
  SELECT event_type, time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
         count(*) AS n_events,
         round(CAST(sum({to_cents_sql("value")}) * 100 AS DOUBLE)
               / count(*)) / 10000.0 AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT g.event_type, g.bucket,
       CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
       last_value(h.avg_value IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_ffill
FROM grid g LEFT JOIN hourly h ON h.event_type = g.event_type AND h.bucket = g.bucket
""",
)
def temporal_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + forward-fill: densify each event type's hourly series
    over its own [min, max] range (sequence + explode builds the grid
    distributively — no driver-side date arithmetic), left-join the real
    buckets, then carry the last observation forward with
    last(ignorenulls) over an ordered window. The timeseries-engine
    'resample + ffill' verb as two exchanges (grid build reuses the
    hourly agg's partitioning on event_type). avg_value follows the
    integer-cents discipline (round 6 — the sf0.1 second-scale gate
    caught a 4dp-midpoint divergence in the raw-double avg): one
    identical bigint-ratio division, integer-level round whose true
    midpoints are dyadic-exact on both engines."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", to_cents("value")
    )
    avg4 = (
        F.round((F.sum("cents") * 100).cast("double") / F.count(F.lit(1))) / 10000.0
    )
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"), avg4.alias("avg_value"))
    )
    bounds = hourly.groupBy(F.col("event_type").alias("g_type")).agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    grid = bounds.select(
        "g_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("g_bucket"),
    )
    joined = grid.join(
        hourly,
        (F.col("event_type") == F.col("g_type")) & (F.col("bucket") == F.col("g_bucket")),
        "left",
    )
    w = (
        Window.partitionBy("g_type")
        .orderBy("g_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("g_type").alias("event_type"),
        F.col("g_bucket").alias("bucket"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_ffill"),
    )


@register(
    "temporal_scd2_history",
    bench=True,
    tags=("temporal", "window"),
    oracle="""
SELECT o_custkey,
       row_number() OVER w AS version,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       o_totalprice,
       CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def temporal_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: turn an append-only change log
    (here: each customer's orders) into versioned validity intervals —
    valid_from/valid_to half-open ranges plus an is_current flag.

    One window per entity key: a single shuffle on o_custkey, then
    row_number + lead inside the sorted partition. Ties broken by
    o_orderkey so version assignment is deterministic on both engines.
    At 100 TB this is the canonical 'build dimension history from CDC
    stream' shape — state per key is one partition's sort, never global.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        F.row_number().over(w).alias("version"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        "o_totalprice",
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "events_funnel_conversion",
    tags=("temporal", "events"),
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS step1_view_users,
       (SELECT count(*) FROM c) AS step2_click_users,
       (SELECT count(*) FROM p) AS step3_purchase_users,
       round((SELECT count(*) FROM c) * 1.0
             / greatest((SELECT count(*) FROM v), 1), 4) AS conv_view_click,
       round((SELECT count(*) FROM p) * 1.0
             / greatest((SELECT count(*) FROM c), 1), 4) AS conv_click_purchase
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly after the
    first view, then purchased strictly after that first click; step
    counts and step-to-step conversion rates.

    Each stage is a per-user min-aggregate (map-side partial combine)
    semi-joined to the previous stage — three shuffles on user_id, all
    reusable under the same hash partitioning; Spark's exchange reuse
    collapses them. No window, no per-user event sorting.
    """
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("step1_view_users"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("step2_click_users")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("step3_purchase_users")))
    )
    return counts.select(
        "step1_view_users",
        "step2_click_users",
        "step3_purchase_users",
        F.round(
            F.col("step2_click_users") / F.greatest(F.col("step1_view_users"), F.lit(1)), 4
        ).alias("conv_view_click"),
        F.round(
            F.col("step3_purchase_users") / F.greatest(F.col("step2_click_users"), F.lit(1)),
            4,
        ).alias("conv_click_purchase"),
    )


@register(
    "events_sessionize_ids",
    tags=("temporal", "events", "window"),
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
), marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessed AS (
  SELECT user_id, ts, event_id,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM marked
)
SELECT user_id, session_idx,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
FROM sessed
GROUP BY user_id, session_idx
""",
)
def events_sessionize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with stable session ids: a new session
    starts after a >30 min silence; session_idx is the running count of
    session starts per user — the batch twin of session_window that also
    NAMES each session (so downstream joins can key on it).

    One shuffle on user_id feeds both windows and the final aggregate
    (same partitioning, Spark reuses the exchange). The gap predicate is
    strict '>' to mirror session_window's exclusive end exactly
    (ADVICE r01 pinned this boundary).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    # unix_micros, not cast("long"): the cast truncates sub-second parts,
    # so a true gap of 1800.4s could compare as 1800 on Spark while the
    # oracle's full-precision INTERVAL comparison sees > 30 min.
    is_new = F.when(
        lag_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(lag_ts) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessed = ev.select(
        "user_id", "ts", "event_id", F.sum(is_new).over(run).alias("session_idx")
    )
    return sessed.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_sec"),
    )


@register(
    "events_retention_cohorts",
    tags=("temporal", "events"),
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM ev GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('day', f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
             AS week_offset
  FROM ev e JOIN firsts f USING (user_id)
)
SELECT cohort_week, week_offset,
       count(*) AS n_active_users
FROM activity
GROUP BY cohort_week, week_offset
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week, then
    counted as active per week-offset since their cohort week — the
    engagement matrix behind every retention curve.

    Two user_id-keyed aggregates around one broadcast-sized join (the
    cohort table has one row per user; at 100 TB it shuffles on user_id
    and reuses the first aggregate's partitioning instead). DISTINCT
    collapses within-week activity before the final small agg.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week"))
                / 7
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "temporal_linear_interp",
    tags=("temporal", "window"),
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         round(avg(value), 4) AS v
  FROM events WHERE user_id < 20 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day FROM bounds
), g AS (
  SELECT CAST(grid.user_id AS BIGINT) AS user_id, CAST(grid.day AS DATE) AS day, d.v,
         last_value(d.v IGNORE NULLS) OVER (PARTITION BY grid.user_id ORDER BY grid.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         last_value(CASE WHEN d.v IS NOT NULL THEN grid.day END IGNORE NULLS)
             OVER (PARTITION BY grid.user_id ORDER BY grid.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
         first_value(d.v IGNORE NULLS) OVER (PARTITION BY grid.user_id ORDER BY grid.day
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN d.v IS NOT NULL THEN grid.day END IGNORE NULLS)
             OVER (PARTITION BY grid.user_id ORDER BY grid.day
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
  FROM grid LEFT JOIN daily d ON d.user_id = grid.user_id AND d.day = grid.day
), scaled AS (
  -- interpolate in exact integer space (values are 4-dp): num = interp*1e4*n.
  -- A float round here would tie on .5 at every midpoint; integer half-up
  -- (floor((2*num+n)/(2*n))) is engine-exact.
  SELECT user_id, day, v,
         CAST(round(pv * 10000) AS BIGINT) AS pv_i,
         CAST(round(nv * 10000) AS BIGINT) AS nv_i,
         date_diff('day', pd, day) AS k,
         date_diff('day', pd, nd) AS n
  FROM g
)
SELECT user_id, day,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv_i IS NOT NULL AND nv_i IS NOT NULL THEN
                 CAST(floor((2 * (pv_i * n + (nv_i - pv_i) * k) + n) / (2.0 * n))
                      AS BIGINT) / 10000.0
       END AS value_filled,
       CAST(CASE WHEN v IS NULL AND pv_i IS NOT NULL AND nv_i IS NOT NULL
                 THEN 1 ELSE 0 END AS INT) AS is_interp
FROM scaled
""",
)
def temporal_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + LINEAR interpolation (the ffill twin of
    temporal_gap_fill): densify each user's daily mean-value series over
    its own [min, max] span, then fill interior gaps by interpolating
    between the nearest observed neighbors — value = prev + (next-prev)
    * elapsed/gap. Leading/trailing gaps (no neighbor on one side) stay
    null, flagged by is_interp=0.

    Scale shape: one agg exchange keyed by user, grid built
    distributively via sequence+explode, and all four neighbor lookups
    (prev/next value and day) are ignore-nulls window functions over the
    SAME user partitioning — no extra shuffle, no self-join per gap."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("user_id") < 20)
        .groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    bounds = daily.groupBy(F.col("user_id").alias("g_uid")).agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    grid = bounds.select(
        "g_uid", F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("g_day")
    )
    joined = grid.join(
        daily,
        (F.col("user_id") == F.col("g_uid")) & (F.col("day") == F.col("g_day")),
        "left",
    )
    wp = (
        Window.partitionBy("g_uid").orderBy("g_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("g_uid").orderBy("g_day")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("v").isNotNull(), F.col("g_day"))
    g = joined.select(
        F.col("g_uid").cast("bigint").alias("user_id"),
        F.col("g_day").alias("day"),
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_day, ignorenulls=True).over(wn).alias("nd"),
    )
    # Interpolate in exact integer space (values are 4-dp): a float round
    # would tie on .5 at every midpoint; integer half-up is engine-exact.
    scaled = g.select(
        "user_id",
        "day",
        "v",
        F.round(F.col("pv") * 10000).cast("long").alias("pv_i"),
        F.round(F.col("nv") * 10000).cast("long").alias("nv_i"),
        F.datediff("day", "pd").cast("long").alias("k"),
        F.datediff("nd", "pd").cast("long").alias("n"),
    )
    num = F.col("pv_i") * F.col("n") + (F.col("nv_i") - F.col("pv_i")) * F.col("k")
    filled = F.floor((2 * num + F.col("n")) / (2.0 * F.col("n"))).cast("bigint") / 10000.0
    return scaled.select(
        "user_id",
        "day",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv_i").isNotNull() & F.col("nv_i").isNotNull(), filled)
        .alias("value_filled"),
        F.when(
            F.col("v").isNull() & F.col("pv_i").isNotNull() & F.col("nv_i").isNotNull(), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("is_interp"),
    )


@register(
    "temporal_ewma_decay",
    tags=("temporal",),
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(round(avg(value) * 10000) AS BIGINT) AS v_scaled
  FROM events GROUP BY 1, 2
), contrib AS (
  SELECT h.event_type,
         h.bucket + to_hours(u.d) AS t_bucket,
         h.v_scaled * (CAST(1 AS BIGINT) << CAST(6 - u.d AS INTEGER)) AS wv,
         (CAST(1 AS BIGINT) << CAST(6 - u.d AS INTEGER)) AS w
  FROM hourly h, (SELECT unnest(generate_series(0, 6)) AS d) u
), acc AS (
  SELECT event_type, t_bucket, CAST(sum(wv) AS BIGINT) AS num,
         CAST(sum(w) AS BIGINT) AS den
  FROM contrib GROUP BY 1, 2
)
SELECT a.event_type, a.t_bucket AS bucket,
       round(h.v_scaled / 10000.0, 4) AS avg_value,
       round(a.num * 1.0 / (a.den * 10000.0), 4) AS ewma_value
FROM acc a JOIN hourly h
  ON h.event_type = a.event_type AND h.bucket = a.t_bucket
""",
)
def temporal_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay rolling feature: per event type, an exponentially
    weighted (half-life 1 h, horizon 6 h) average of the hourly mean
    value at every observed bucket — the feature-store 'decayed
    engagement' verb.

    Scale shape: each hourly row EXPLODES into exactly 7 future-bucket
    contributions (weight 2^(6-Δh)) and re-aggregates by (type, bucket) —
    bounded 7x fan-out, never the quadratic bucket×bucket band join the
    naive windowed formulation costs. All weighting runs in exact BIGINT
    (means fixed-pointed at 4dp, weights are powers of two), so partial
    aggregation order can't perturb the result on any engine or cluster
    size; the single final division is the only float op."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.avg("value") * 10000).cast("bigint").alias("v_scaled"))
    # F.shiftleft takes only a Python-int bit count; the per-row 2^(6-d)
    # weight needs the SQL form
    w = F.expr("cast(shiftleft(1, cast(6 - d as int)) as bigint)")
    contrib = hourly.select(
        "event_type",
        "bucket",
        "v_scaled",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("d"),
    ).select(
        "event_type",
        F.expr("timestampadd(HOUR, d, bucket)").alias("t_bucket"),
        (F.col("v_scaled") * w).alias("wv"),
        w.alias("w"),
    )
    acc = contrib.groupBy("event_type", "t_bucket").agg(
        F.sum("wv").alias("num"), F.sum("w").alias("den")
    )
    # explicit aliases: acc derives from hourly, so unaliased column refs
    # would resolve ambiguously in the self-join
    h = hourly.select(
        F.col("event_type").alias("h_type"),
        F.col("bucket").alias("h_bucket"),
        "v_scaled",
    )
    return acc.join(
        h,
        (F.col("h_type") == F.col("event_type"))
        & (F.col("h_bucket") == F.col("t_bucket")),
    ).select(
        "event_type",
        F.col("t_bucket").alias("bucket"),
        F.round(F.col("v_scaled") / 10000.0, 4).alias("avg_value"),
        F.round(F.col("num") * 1.0 / (F.col("den") * 10000.0), 4).alias("ewma_value"),
    )


@register(
    "rollup_incremental_caggs",
    tags=("temporal", "rollup", "incremental"),
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value,
       round(sum(value) / count(*), 6) AS avg_value
FROM events
GROUP BY 1
""",
)
def rollup_incremental_caggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable rollup) refresh: the day's answer
    assembled by MERGING a stored hourly pre-aggregate of old data with
    a fresh delta aggregate of new data — never re-scanning history.
    Spark runs the two-phase shape (materialized hourly partials for
    ts < split, delta partials for ts >= split, then a merge agg to
    daily); the oracle recomputes daily from raw events directly, so a
    hash match PROVES merge(partials) == full recompute — the invariant
    that makes (count, sum)-style states safely mergeable at 100 TB,
    where the materialized side is read from the rollup store and only
    the delta touches raw data. avg derives from merged sums, never
    from averaging averages."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-20").cast("timestamp")
    hourly = (
        lambda df: df.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )
    )
    mat = hourly(ev.filter(F.col("ts") < split))  # the stored rollup
    delta = hourly(ev.filter(F.col("ts") >= split))  # today's refresh
    merged = mat.unionByName(delta)
    return merged.groupBy(F.date_trunc("day", "bucket").alias("day")).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.round(F.sum("s"), 2).alias("total_value"),
        F.round(F.sum("s") / F.sum("n"), 6).alias("avg_value"),
    )


@register(
    "temporal_open_interval_count",
    tags=("temporal", "window"),
    oracle="""
WITH bounds AS (
  SELECT o.o_orderkey, o.o_orderdate AS opened,
         max(l.l_shipdate) AS closed
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), deltas AS (
  SELECT opened AS d, 1 AS delta FROM bounds
  UNION ALL
  SELECT closed AS d, -1 AS delta FROM bounds
), daily AS (
  SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY d
)
SELECT d AS day,
       CAST(sum(net) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM daily
""",
)
def temporal_open_interval_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting (orders open = placed but not fully
    shipped, closing at the last lineitem ship date): the sweep-line
    rewrite — +1 at each open, -1 at each close, collapse deltas per
    day, one running sum over the day-cardinality frame. The
    'how many X were in-flight at time t' verb (sessions online,
    backlog, concurrent jobs) WITHOUT the interval×timestamp join that
    costs |intervals|×|days|. The only global window runs over distinct
    days — thousands of rows at any fact scale."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bounds = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").alias("opened"))
        .agg(F.max("l_shipdate").alias("closed"))
    )
    deltas = bounds.select(F.col("opened").alias("d"), F.lit(1).alias("delta")).unionByName(
        bounds.select(F.col("closed").alias("d"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").cast("bigint").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)  # frame: bounded (day-grain)
    return daily.select(
        F.col("d").alias("day"),
        F.sum("net").over(w).cast("bigint").alias("open_orders"),
    )


@register(
    "temporal_week_over_week",
    tags=("temporal", "window"),
    oracle="""
WITH weekly AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(value), 2) AS total
  FROM events GROUP BY 1, 2
)
SELECT event_type, week, n, total,
       lag(n)     OVER w AS prev_n,
       round((n - lag(n) OVER w) * 100.0 / lag(n) OVER w, 4) AS n_wow_pct,
       round((total - lag(total) OVER w) * 100.0 / lag(total) OVER w, 4)
         AS total_wow_pct
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week)
""",
)
def temporal_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth: weekly counts/totals per event type with
    lag-based percent change — the period-over-period reporting verb.
    The fact table collapses to the weekly frame in one agg; the lag
    window runs over weeks-cardinality rows only. First week's deltas
    are NULL (no fabricated 0% baselines)."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("week")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev_n, prev_t = F.lag("n").over(w), F.lag("total").over(w)
    return weekly.select(
        "event_type",
        "week",
        "n",
        "total",
        prev_n.alias("prev_n"),
        F.round((F.col("n") - prev_n) * 100.0 / prev_n, 4).alias("n_wow_pct"),
        F.round((F.col("total") - prev_t) * 100.0 / prev_t, 4).alias("total_wow_pct"),
    )


@register(
    "temporal_seasonal_backtest",
    tags=("temporal", "forecast"),
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
         round(sum(value), 4) AS v
  FROM events GROUP BY 1, 2
), joined AS (
  SELECT cur.event_type, cur.bucket, cur.v,
         prev.v AS forecast_naive
  FROM hourly cur JOIN hourly prev
    ON prev.event_type = cur.event_type
   AND prev.bucket = cur.bucket - INTERVAL 7 DAY
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_backtest_points,
       round(avg(abs(v - forecast_naive)), 4) AS mae,
       round(avg(abs(v - forecast_naive) / abs(v)) * 100, 4) AS mape_pct
FROM joined
GROUP BY event_type
""",
)
def temporal_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's value as
    the same hour one week earlier, score MAE/MAPE per event type — the
    baseline every real forecasting model must beat, and the shape of
    any model backtest (equi-join actuals to lagged predictions, score
    in one agg). The hourly frame joins to itself on an exact
    (type, bucket-7d) key — no window, no inequality; at 100 TB both
    sides are rollup-store reads."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    prev = hourly.select(
        F.col("event_type").alias("p_type"),
        (F.col("bucket") + F.expr("INTERVAL 7 DAY")).alias("p_bucket"),
        F.col("v").alias("forecast_naive"),
    )
    joined = hourly.join(
        prev,
        (F.col("event_type") == F.col("p_type"))
        & (F.col("bucket") == F.col("p_bucket")),
    )
    err = F.abs(F.col("v") - F.col("forecast_naive"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_backtest_points"),
        F.round(F.avg(err), 4).alias("mae"),
        F.round(F.avg(err / F.abs(F.col("v"))) * 100, 4).alias("mape_pct"),
    )


@register(
    "temporal_weekend_lift",
    tags=("temporal", "stats"),
    oracle="""
WITH tagged AS (
  SELECT event_type,
         CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
         value
  FROM events
), g AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE is_weekend = 1) AS BIGINT) AS n_weekend,
         CAST(count(*) FILTER (WHERE is_weekend = 0) AS BIGINT) AS n_weekday,
         round(avg(value) FILTER (WHERE is_weekend = 1), 6) AS avg_weekend,
         round(avg(value) FILTER (WHERE is_weekend = 0), 6) AS avg_weekday
  FROM tagged GROUP BY event_type
)
SELECT event_type, n_weekend, n_weekday, avg_weekend, avg_weekday,
       round((avg_weekend - avg_weekday) * 100.0 / avg_weekday, 4) AS lift_pct
FROM g
""",
)
def temporal_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday behavioral lift per event type — the calendar
    seasonality decomposition every engagement dashboard starts with.
    DuckDB's dayofweek is 0=Sunday..6=Saturday while Spark's dayofweek
    is 1=Sunday..7=Saturday — the predicate maps both to the same
    weekend set explicitly. One conditional aggregate; lift arithmetic
    runs on 6dp-pre-rounded arm means."""
    ev = load_table(spark, sf_dir, "events")
    # Spark: dayofweek 1=Sunday, 7=Saturday
    is_weekend = F.dayofweek("ts").isin(1, 7)
    g = ev.groupBy("event_type").agg(
        F.count_if(is_weekend).cast("bigint").alias("n_weekend"),
        F.count_if(~is_weekend).cast("bigint").alias("n_weekday"),
        F.round(F.avg(F.when(is_weekend, F.col("value"))), 6).alias("avg_weekend"),
        F.round(F.avg(F.when(~is_weekend, F.col("value"))), 6).alias("avg_weekday"),
    )
    return g.select(
        "event_type",
        "n_weekend",
        "n_weekday",
        "avg_weekend",
        "avg_weekday",
        F.round(
            (F.col("avg_weekend") - F.col("avg_weekday"))
            * 100.0
            / F.col("avg_weekday"),
            4,
        ).alias("lift_pct"),
    )


@register(
    "temporal_pit_feature_join",
    bench=True,
    tags=("temporal", "window", "pipeline"),
    oracle=f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         {to_cents_sql("o_totalprice")} AS cents
  FROM orders
), feat AS (
  SELECT o_orderkey, o_custkey,
         CAST(count(*) OVER w AS BIGINT) AS prior_orders,
         CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS prior_spend_cents
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT o_orderkey, o_custkey, prior_orders, prior_spend_cents
FROM feat WHERE o_orderkey <= 5000
""",
)
def temporal_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature generation (the feature-store
    "as-of" discipline): each order is enriched with its customer's
    order count and lifetime spend STRICTLY BEFORE that order's date —
    the leakage-free construction a training pipeline must use, since
    joining present-day aggregates onto past examples leaks the future
    into the features.

    One shuffle on the entity key feeds a 1-PRECEDING rows frame; both
    features come from the same window pass (no self-join, no per-row
    rescan). Money is integer cents per the repo float discipline; the
    empty frame (first order) yields count 0 / sum 0 on both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        to_cents("o_totalprice").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.count(F.lit(1)).over(w).alias("prior_orders"),
            F.coalesce(F.sum("cents").over(w), F.lit(0).cast("bigint")).alias(
                "prior_spend_cents"
            ),
        )
        .filter(F.col("o_orderkey") <= 5000)
    )


@register(
    "temporal_time_weighted_avg",
    tags=("temporal", "window"),
    oracle="""
WITH seg AS (
  SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts,
         lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY event_type
                                           ORDER BY ts, event_id) AS nxt
  FROM events
), weighted AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hour,
         value,
         CAST(date_diff('microsecond', ts, nxt) AS BIGINT) AS dur_us
  FROM seg
  WHERE nxt IS NOT NULL AND date_trunc('hour', ts) = date_trunc('hour', nxt)
)
SELECT event_type, hour,
       CAST(count(*) AS BIGINT) AS n_segments,
       round(sum(value * dur_us) / sum(dur_us), 6) AS twap
FROM weighted
GROUP BY event_type, hour
HAVING sum(dur_us) > 0
""",
)
def temporal_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP — TimescaleDB `time_weight`-style):
    each observation holds its value until the next one, so the hourly
    mean weights every value by how long it was current (LOCF
    integration), not by sample count — the correct aggregate for
    irregularly-sampled series where burst sampling would otherwise
    dominate a plain avg. Segments that straddle an hour boundary are
    dropped rather than split (both engines agree on the simpler
    semantics; splitting adds a second explode pass if needed).

    One exchange on event_type feeds the lead() window; the weighted agg
    is map-side combinable. Durations are integer microseconds so the
    weighted sum is double×int — identical accumulation on both engines
    at 6dp."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = ev.select(
        "event_type",
        "value",
        "ts",
        F.lead("ts").over(w).alias("nxt"),
    )
    weighted = seg.filter(
        F.col("nxt").isNotNull()
        & (F.date_trunc("hour", "ts") == F.date_trunc("hour", "nxt"))
    ).select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
        (
            F.unix_micros(F.col("nxt")) - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    )
    return (
        weighted.groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
            ).alias("twap"),
            F.sum("dur_us").alias("_tot"),
        )
        .filter(F.col("_tot") > 0)
        .drop("_tot")
    )


@register(
    "events_user_ltv_cohort",
    tags=("temporal", "events"),
    oracle=f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         {to_cents_sql("value")} AS cents
  FROM events
), firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM ev GROUP BY user_id
), cohort_size AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
  FROM firsts GROUP BY cohort_week
), weekly_rev AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week,
              CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT) AS week_offset,
         CAST(sum(e.cents) AS BIGINT) AS cents
  FROM ev e JOIN firsts f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_week, week_offset,
         CAST(sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents
  FROM weekly_rev
)
SELECT c.cohort_week, c.week_offset, s.n_users,
       round(c.cum_cents * 1.0 / (100 * s.n_users), 4) AS ltv_per_user
FROM cum c JOIN cohort_size s USING (cohort_week)
""",
)
def events_user_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week;
    cumulative purchase revenue per cohort through each week offset,
    normalized per cohort user — the LTV triangle every growth dashboard
    plots next to the retention triangle (`events_retention_cohorts`,
    same cohort keys so the two join).

    Shape: one user_id-keyed aggregate for cohorts, one
    (cohort, offset)-keyed revenue aggregate, then a cumulative window
    over the WEEK-cardinality frame (tiny by construction). Money is
    integer cents until the final per-user division."""
    ev = load_table(spark, sf_dir, "events")
    cents = to_cents("value")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    cohort_size = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    weekly_rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = weekly_rev.withColumn("cum_cents", F.sum("cents").over(w))
    return cum.join(F.broadcast(cohort_size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.round(F.col("cum_cents") / (100 * F.col("n_users")), 4).alias(
            "ltv_per_user"
        ),
    )


@register(
    "temporal_m4_downsample",
    tags=("temporal", "downsample"),
    oracle=f"""
WITH e AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         {to_cents_sql("value")} AS cents,
         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket
  FROM events
), o AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bucket ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bucket ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT event_type, bucket,
       CAST(count(*) AS BIGINT) AS n,
       max(CASE WHEN rn_a = 1 THEN cents END) AS v_first,
       max(CASE WHEN rn_d = 1 THEN cents END) AS v_last,
       min(cents) AS v_min,
       max(cents) AS v_max
FROM o GROUP BY event_type, bucket
""",
)
def temporal_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per series pixel-bucket
    keep exactly the four value-defining points — first, last, min, max
    — the provably error-free reduction for line-chart rendering (any
    other point cannot change a pixel). The dashboard query over a
    100 TB series store: one exchange on (series, bucket), map-side
    partial aggregation, output cardinality = pixels, not points.

    first/last are pinned by (ts, event_id) so tied timestamps are
    deterministic on both engines; values are exact integer cents."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        to_cents("value").alias("cents"),
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
    )
    w_a = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    o = ev.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return o.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias("v_first"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("v_last"),
        F.min("cents").alias("v_min"),
        F.max("cents").alias("v_max"),
    )


@register(
    "temporal_interval_coalesce",
    tags=("temporal", "window"),
    oracle="""
WITH iv AS (
  SELECT user_id,
         CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
         CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) + 1800 AS e,
         event_id
  FROM events
), marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
), merged AS (
  SELECT user_id, island, min(s) AS ms, max(e) AS me
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(me - ms) AS BIGINT) AS covered_seconds
FROM merged GROUP BY user_id
""",
)
def temporal_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing — the union-of-intervals measure: each event
    opens a 30-minute activity interval; overlapping intervals merge
    into maximal islands, and each user reports how many disjoint
    activity spans they have and the total covered time (which plain
    sum-of-durations OVERCOUNTS wherever intervals overlap — the error
    this operator exists to avoid; billing, SLA uptime, and
    machine-utilization math all need the union measure).

    The classic O(n log n) sweep: sort by start, a new island begins
    where start exceeds the running max of all previous ends (ROWS …
    1 PRECEDING — the same islands rewrite as `window_streak_islands`
    but over RANGES, where intervals can swallow their successors).
    Exact integer epoch seconds; ties pinned by event_id. One exchange
    per user feeds both windows and the rollup."""
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        (F.unix_timestamp("ts").cast("bigint") + 1800).alias("e"),
    )
    prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = iv.withColumn("prev_max_e", F.max("e").over(prev)).withColumn(
        "new_island",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
        ).otherwise(0),
    )
    islands = marked.withColumn("island", F.sum("new_island").over(run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("covered_seconds"),
    )


@register(
    "asof_nearest_tolerance",
    tags=("temporal", "asof", "join"),
    oracle="""
WITH c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
         CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) AS cs
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
         CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ps
  FROM events WHERE event_type = 'purchase'
), cand AS (
  SELECT p.event_id, p.user_id, p.purchase_ts, c.click_ts,
         p.ps - c.cs AS gap_seconds, abs(p.ps - c.cs) AS adist
  FROM p JOIN c ON c.user_id = p.user_id AND abs(p.ps - c.cs) <= 1800
), best AS (
  SELECT *, row_number() OVER (PARTITION BY event_id
                               ORDER BY adist, click_ts) AS rn
  FROM cand
)
SELECT p.event_id, p.user_id, p.purchase_ts,
       b.click_ts AS nearest_click_ts,
       b.gap_seconds
FROM p LEFT JOIN best b ON b.event_id = p.event_id AND b.rn = 1
""",
)
def asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction with tolerance (pandas
    `merge_asof(direction='nearest', tolerance=30min)` semantics —
    the variant `asof_purchase_to_click`'s backward-only match cannot
    express): each purchase takes the closest click within +/-30
    minutes, whichever side it falls on (ties -> earlier click),
    NULL-padded when no click is near enough. Attribution uses this
    when instrumentation skew can put the click AFTER the recorded
    purchase.

    Scale shape: the tolerance bounds the candidate band, so the join
    blocks on 30-minute time buckets — each purchase probes its own
    and both adjacent buckets (3-way explode on ids+seconds only, the
    1-D form of `geo_grid_knn_join`'s grid) — and the exact |gap|
    test + per-purchase argmin run on within-block candidates. Exact
    integer epoch seconds end to end."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("click_ts"),
        F.unix_timestamp("ts").cast("bigint").alias("cs"),
    ).withColumn("cb", F.expr("cs div 1800"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.unix_timestamp("ts").cast("bigint").alias("ps"),
    )
    probes = p.select(
        "event_id",
        "user_id",
        "ps",
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("off"),
    ).select(
        "event_id", "user_id", "ps", (F.expr("ps div 1800") + F.col("off")).alias("pb")
    )
    cand = (
        probes.join(
            c,
            (F.col("user_id") == F.col("c_uid")) & (F.col("pb") == F.col("cb")),
        )
        .withColumn("gap_seconds", F.col("ps") - F.col("cs"))
        .withColumn("adist", F.abs(F.col("gap_seconds")))
        .filter(F.col("adist") <= 1800)
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_id").orderBy("adist", "click_ts")
        ),
    ).filter(F.col("rn") == 1).select(
        F.col("event_id").alias("b_eid"), "click_ts", "gap_seconds"
    )
    return p.join(best, p["event_id"] == F.col("b_eid"), "left").select(
        "event_id",
        "user_id",
        "purchase_ts",
        F.col("click_ts").alias("nearest_click_ts"),
        "gap_seconds",
    )


@register(
    "temporal_seasonal_decompose",
    tags=("temporal", "stats"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         sum({to_cents_sql("o_totalprice")}) AS cents
  FROM orders GROUP BY 1
),
tr AS (
  SELECT d, cents,
         CASE WHEN count(*) OVER w = 7 THEN sum(cents) OVER w END AS win_cents
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT d, cents, win_cents,
         CAST(CAST(d - DATE '1970-01-01' AS INT) % 7 AS INT) AS dow,
         CASE WHEN win_cents IS NOT NULL THEN 7 * cents - win_cents END AS units
  FROM tr
),
seas AS (
  SELECT dow, sum(units) AS sum_units, count(*) AS n_dow
  FROM det WHERE units IS NOT NULL GROUP BY dow
)
SELECT det.d,
       det.cents / 100.0 AS rev,
       round(det.win_cents / 700.0, 2) AS trend,
       round(seas.sum_units / (700.0 * seas.n_dow), 2) AS seasonal,
       round((det.units * seas.n_dow - seas.sum_units) / (700.0 * seas.n_dow), 2)
         AS resid
FROM det JOIN seas USING (dow)
""",
)
def temporal_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: trend = centered 7-day moving average (full windows only),
    seasonal = day-of-week mean of the detrended series, residual = the
    rest — the STL-lite pass run before anomaly thresholds or forecast
    backtests so the weekly cycle doesn't masquerade as signal.

    Scale shape: the fact table collapses to date cardinality in one
    agg; every subsequent step (centered window, dow means, residual
    join) runs over the ~2.4k-row daily frame. Day-of-week is computed
    as (epoch_days % 7) on both engines — no locale/weekstart trap.

    r9 (caught by the sf10 stride): all sums run in EXACT integer
    cents — the float daily sums and their 7-day averages drifted
    cross-engine by summation-order ulps at sf10 magnitudes (~1.5e9
    revenue/day), landing on different 6dp roundings. detr/seasonal/
    resid are exact-integer ratios (units = 7*cents - win_cents;
    resid numerator = units*n_dow - sum_units, < 2^53 at every fixture
    decade) with ONE final division + round on engine-identical
    doubles. The round is 2dp (cents precision, the money domain's
    grain), not the old 6dp: at sf10 trend magnitudes (~1.5e9) the 6th
    decimal sits at the double's representational edge and the engines'
    round algorithms (BigDecimal vs multiply-round) legitimately split
    there; 2dp stays stable through sf100. Semantic change -> rule-(a)
    re-row this round."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = to_cents("o_totalprice")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(cents).alias("cents")
    )
    # unpartitioned centered window over the daily series (tiny frame)
    w = Window.orderBy("d").rowsBetween(-3, 3)  # frame: bounded (day-grain)
    tr = daily.select(
        "d",
        "cents",
        F.when(F.count("*").over(w) == 7, F.sum("cents").over(w)).alias("win_cents"),
    )
    det = tr.select(
        "d",
        "cents",
        "win_cents",
        (F.datediff("d", F.lit("1970-01-01")) % 7).cast("int").alias("dow"),
        F.when(
            F.col("win_cents").isNotNull(), 7 * F.col("cents") - F.col("win_cents")
        ).alias("units"),
    )
    seas = (
        det.filter(F.col("units").isNotNull())
        .groupBy("dow")
        .agg(F.sum("units").alias("sum_units"), F.count(F.lit(1)).alias("n_dow"))
    )
    return (
        det.join(F.broadcast(seas), "dow")
        .select(
            "d",
            (F.col("cents") / 100.0).alias("rev"),
            F.round(F.col("win_cents") / 700.0, 2).alias("trend"),
            F.round(F.col("sum_units") / (700.0 * F.col("n_dow")), 2).alias(
                "seasonal"
            ),
            F.round(
                (F.col("units") * F.col("n_dow") - F.col("sum_units"))
                / (700.0 * F.col("n_dow")),
                2,
            ).alias("resid"),
        )
    )


@register(
    "temporal_business_day_lag",
    tags=("temporal",),
    oracle="""
WITH firstship AS (
  SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY l_orderkey
), lags AS (
  SELECT o.o_orderpriority,
         (5 * ((CAST(epoch(CAST(f.ship AS TIMESTAMP)) AS BIGINT) // 86400 + 3) // 7)
            + least((CAST(epoch(CAST(f.ship AS TIMESTAMP)) AS BIGINT) // 86400 + 3) % 7, 5))
         - (5 * ((CAST(epoch(CAST(o.o_orderdate AS TIMESTAMP)) AS BIGINT) // 86400 + 3) // 7)
            + least((CAST(epoch(CAST(o.o_orderdate AS TIMESTAMP)) AS BIGINT) // 86400 + 3) % 7, 5))
           AS bd
  FROM orders o JOIN firstship f ON f.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(bd), 4) AS avg_lag_bd,
       CAST(max(bd) AS BIGINT) AS max_lag_bd,
       CAST(min(bd) AS BIGINT) AS min_lag_bd
FROM lags GROUP BY o_orderpriority
""",
)
def temporal_business_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment lag in BUSINESS days per priority class —
    calendar-day SLAs misread weekend spans, so ops dashboards count
    weekdays. No calendar functions anywhere: with e = epoch days, H(e)
    = 5·⌊(e+3)/7⌋ + min((e+3) mod 7, 5) counts weekdays before e
    (the +3 anchors to a Monday, 1969-12-29), and the lag is
    H(ship) − H(order) — pure integer arithmetic, identical on every
    engine, no dow()/isodow() convention mismatches. One join + two
    hash aggs; the closed form means no per-day explode (the naive
    sequence() spelling multiplies the fact table by the lag length —
    a 30-100x blowup at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    firstship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))

    def weekdays_before(col):
        e = F.unix_date(F.col(col).cast("date"))
        return 5 * F.floor((e + 3) / 7) + F.least((e + 3) % 7, F.lit(5))

    lags = (
        o.join(firstship, o.o_orderkey == firstship.l_orderkey)
        .select(
            "o_orderpriority",
            (weekdays_before("ship") - weekdays_before("o_orderdate")).alias("bd"),
        )
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.avg("bd"), 4).alias("avg_lag_bd"),
        F.max("bd").cast("bigint").alias("max_lag_bd"),
        F.min("bd").cast("bigint").alias("min_lag_bd"),
    )


# Allen's interval algebra (Allen, CACM 1983): the 13 basic relations.
PROMO_LO = "2024-01-10 06:00:00"
PROMO_HI = "2024-01-10 18:00:00"


@register(
    "temporal_allen_relations",
    tags=("temporal",),
    oracle=f"""
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         epoch_us(min(ts)) AS lo,
         epoch_us(max(ts)) AS hi
  FROM events GROUP BY user_id, CAST(ts AS DATE)
  HAVING min(ts) < max(ts)
), promo AS (
  SELECT epoch_us(CAST('{PROMO_LO}' AS TIMESTAMP)) AS plo,
         epoch_us(CAST('{PROMO_HI}' AS TIMESTAMP)) AS phi
), rel AS (
  SELECT s.user_id,
         CASE
           WHEN s.hi < p.plo THEN 'precedes'
           WHEN s.hi = p.plo THEN 'meets'
           WHEN s.lo < p.plo AND s.hi > p.plo AND s.hi < p.phi THEN 'overlaps'
           WHEN s.lo = p.plo AND s.hi < p.phi THEN 'starts'
           WHEN s.lo > p.plo AND s.hi < p.phi THEN 'during'
           WHEN s.lo > p.plo AND s.lo < p.phi AND s.hi = p.phi THEN 'finishes'
           WHEN s.lo = p.plo AND s.hi = p.phi THEN 'equals'
           WHEN s.lo < p.plo AND s.hi = p.phi THEN 'finished_by'
           WHEN s.lo = p.plo AND s.hi > p.phi THEN 'started_by'
           WHEN s.lo < p.plo AND s.hi > p.phi THEN 'contains'
           WHEN s.lo > p.plo AND s.lo < p.phi AND s.hi > p.phi THEN 'overlapped_by'
           WHEN s.lo = p.phi THEN 'met_by'
           ELSE 'preceded_by'
         END AS relation
  FROM spans s CROSS JOIN promo p
)
SELECT relation, CAST(count(*) AS BIGINT) AS n_spans
FROM rel GROUP BY relation
""",
)
def temporal_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra (CACM '83): classify every user-DAY
    activity span against an intraday promo window into the 13 relations
    — the vocabulary temporal joins are built from (an interval join's
    ON clause is a disjunction of these; naming them makes audits like
    'who was active STRICTLY inside the promo' exact instead of
    hand-rolled boundary juggling). The CASE ladder tests boundaries in
    an order that makes the 13 cases mutually exclusive and exhaustive;
    all comparisons are integer microseconds. One per-user min/max agg
    + a broadcast 1-row window + a relation rollup. (Spans are
    per-user-per-day: whole-corpus spans all 'contain' any sub-window —
    day granularity is what makes every relation reachable.)"""
    ev = load_table(spark, sf_dir, "events")
    spans = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.unix_micros(F.min("ts")).alias("lo"),
            F.unix_micros(F.max("ts")).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
    )
    plo = F.unix_micros(F.lit(PROMO_LO).cast("timestamp"))
    phi = F.unix_micros(F.lit(PROMO_HI).cast("timestamp"))
    lo, hi = F.col("lo"), F.col("hi")
    relation = (
        F.when(hi < plo, "precedes")
        .when(hi == plo, "meets")
        .when((lo < plo) & (hi > plo) & (hi < phi), "overlaps")
        .when((lo == plo) & (hi < phi), "starts")
        .when((lo > plo) & (hi < phi), "during")
        .when((lo > plo) & (lo < phi) & (hi == phi), "finishes")
        .when((lo == plo) & (hi == phi), "equals")
        .when((lo < plo) & (hi == phi), "finished_by")
        .when((lo == plo) & (hi > phi), "started_by")
        .when((lo < plo) & (hi > phi), "contains")
        .when((lo > plo) & (lo < phi) & (hi > phi), "overlapped_by")
        .when(lo == phi, "met_by")
        .otherwise("preceded_by")
    )
    return (
        spans.select(relation.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_spans"))
    )


# Bitemporal knowledge times: what did the warehouse believe on K1 vs K2?
BT_K1 = "1997-06-01"
BT_K2 = "2002-01-01"
BT_CORR_MOD = 50  # every 50th order receives a later price correction


@register(
    "temporal_bitemporal_asof",
    tags=("temporal", "cdc"),
    oracle=f"""
WITH versions AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         o_orderdate AS recorded_at, 0 AS is_corr
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus,
         (({to_cents_sql("o_totalprice")} * 9) // 10) / 100.0,
         CAST('1998-06-15' AS DATE), 1
  FROM orders WHERE o_orderkey % {BT_CORR_MOD} = 0
), known_k1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY recorded_at DESC, is_corr DESC) AS rn
  FROM versions WHERE recorded_at <= CAST('{BT_K1}' AS DATE)
), known_k2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY recorded_at DESC, is_corr DESC) AS rn
  FROM versions WHERE recorded_at <= CAST('{BT_K2}' AS DATE)
)
SELECT k2.o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders_k2,
       round(CAST(sum({to_cents_sql("k2.o_totalprice")}) AS BIGINT) / 100.0, 2)
           AS total_as_known_k2,
       round(CAST(sum({to_cents_sql("coalesce(k1.o_totalprice, 0)")}) AS BIGINT) / 100.0, 2)
           AS total_as_known_k1,
       CAST(count(*) FILTER (WHERE k1.o_totalprice IS NOT NULL
                               AND k1.o_totalprice <> k2.o_totalprice) AS BIGINT)
           AS n_restated
FROM known_k2 k2
LEFT JOIN known_k1 k1 ON k1.o_orderkey = k2.o_orderkey AND k1.rn = 1
WHERE k2.rn = 1
GROUP BY k2.o_orderstatus
""",
)
def temporal_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of reporting: the same aggregate 'as known at' two
    knowledge times — every 50th order receives a later −10% price
    correction (recorded 1998-06-15), so the K2 view restates what the
    K1 view reported, and the audit quantifies the restatement per
    status. This is the system-time half of bitemporality that SCD2
    (`temporal_scd2_history` — valid time) doesn't cover: finance
    closes books at K1, restates at K2, and must reproduce BOTH
    (Snodgrass; Kimball's late-arriving-fact pattern). Each knowledge
    view is one window over the versions union filtered by
    recorded_at ≤ K — at 100 TB that filter prunes version partitions
    before the window runs. Ties (same recorded day) break toward the
    correction via is_corr. The -10% correction itself is integer-cent
    arithmetic ((cents*9)//10) — round(x*0.9, 2) differed by one cent
    on one order across engines — and money sums ride integer cents
    too: the ~3000
    doubles per status group landed exactly on a cent rounding boundary
    across engines otherwise."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").alias("recorded_at"), F.lit(0).alias("is_corr"),
    )
    corr = (
        o.filter(F.col("o_orderkey") % BT_CORR_MOD == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            (
                F.floor(to_cents("o_totalprice") * 9 / 10)
                .cast("bigint")
                / 100.0
            ).alias("o_totalprice"),
            F.lit("1998-06-15").cast("date").alias("recorded_at"),
            F.lit(1).alias("is_corr"),
        )
    )
    versions = base.unionByName(corr)

    def known(k):
        w = Window.partitionBy("o_orderkey").orderBy(
            F.col("recorded_at").desc(), F.col("is_corr").desc()
        )
        return (
            versions.filter(F.col("recorded_at") <= F.lit(k).cast("date"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )

    k1 = known(BT_K1).select(
        F.col("o_orderkey").alias("k1_key"), F.col("o_totalprice").alias("k1_total")
    )
    k2 = known(BT_K2)
    joined = k2.join(k1, k2.o_orderkey == k1.k1_key, "left")
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders_k2"),
        F.round(
            F.sum(to_cents("o_totalprice")).cast("bigint")
            / 100.0,
            2,
        ).alias("total_as_known_k2"),
        F.round(
            F.sum(
                to_cents(F.coalesce(F.col("k1_total"), F.lit(0)))
            ).cast("bigint")
            / 100.0,
            2,
        ).alias("total_as_known_k1"),
        F.count(
            F.when(
                F.col("k1_total").isNotNull()
                & (F.col("k1_total") != F.col("o_totalprice")),
                1,
            )
        ).cast("bigint").alias("n_restated"),
    )


@register(
    "temporal_accumulating_snapshot",
    tags=("temporal", "reporting"),
    oracle="""
WITH milestones AS (
  SELECT o.o_orderkey, o.o_orderstatus, o.o_orderdate,
         min(l.l_shipdate) AS first_ship,
         max(l.l_shipdate) AS last_ship,
         count(l.l_orderkey) AS n_lines
  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderstatus, o.o_orderdate
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE first_ship IS NULL) AS BIGINT) AS n_unshipped,
       CAST(sum(CASE WHEN first_ship IS NOT NULL
                     THEN date_diff('day', CAST(o_orderdate AS DATE), CAST(first_ship AS DATE))
                     ELSE 0 END) AS BIGINT) AS total_order_to_first_ship_days,
       CAST(sum(CASE WHEN first_ship IS NOT NULL
                     THEN date_diff('day', CAST(first_ship AS DATE), CAST(last_ship AS DATE))
                     ELSE 0 END) AS BIGINT) AS total_ship_span_days,
       CAST(max(n_lines) AS BIGINT) AS max_lines
FROM milestones
GROUP BY o_orderstatus
""",
)
def temporal_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact (Kimball): one row per order carrying
    every milestone date it has reached — placed, first shipment, last
    shipment — plus the lags between them; unreached milestones stay
    NULL (n_unshipped counts them). This is the third fact-table style
    next to transaction facts (lineitem itself) and periodic snapshots
    (`rollup_*`): the pattern for pipeline/fulfillment tracking where
    each entity's row is UPDATED as milestones land — here derived in
    one pass as LEFT JOIN + per-order min/max, which is also exactly
    the backfill that rebuilds the snapshot at 100 TB (the incremental
    maintenance is `merge_into_upsert` keyed on orderkey). Lag sums in
    integer days."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ms = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderstatus", "o_orderdate")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
            F.count("l_orderkey").alias("n_lines"),
        )
    )
    shipped = F.col("first_ship").isNotNull()
    return ms.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count(F.when(~shipped, 1)).cast("bigint").alias("n_unshipped"),
        F.sum(
            F.when(
                shipped,
                F.datediff(F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date")),
            ).otherwise(0)
        ).cast("bigint").alias("total_order_to_first_ship_days"),
        F.sum(
            F.when(
                shipped,
                F.datediff(F.col("last_ship").cast("date"), F.col("first_ship").cast("date")),
            ).otherwise(0)
        ).cast("bigint").alias("total_ship_span_days"),
        F.max("n_lines").cast("bigint").alias("max_lines"),
    )


@register(
    "temporal_calendar_proration",
    tags=("temporal", "analytics"),
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_shipdate,
         {to_cents_sql("l_extendedprice")} AS cents,
         CAST(10 + l_partkey % 50 AS BIGINT) AS span_days
  FROM lineitem
), days AS (
  SELECT l_orderkey, l_linenumber, cents, span_days,
         unnest(generate_series(0, CAST(span_days - 1 AS INTEGER))) AS idx,
         l_shipdate
  FROM li
), alloc AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE) + CAST(idx AS INTEGER)) AS month,
         cents // span_days + CASE WHEN idx < cents % span_days THEN 1 ELSE 0 END
           AS day_cents,
         l_orderkey, l_linenumber
  FROM days
)
SELECT CAST(month AS DATE) AS month,
       CAST(sum(day_cents) AS BIGINT) AS recognized_cents,
       CAST(count(DISTINCT l_orderkey || '-' || l_linenumber) AS BIGINT)
         AS n_open_lines
FROM alloc
GROUP BY 1
""",
)
def temporal_calendar_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar proration / daily revenue recognition: each line's
    revenue is recognized evenly across its service window (shipdate +
    10..59 days, span derived deterministically from l_partkey since
    the fixture carries no receipt date), then rolled up to calendar
    months — the deferred-revenue schedule every finance close and
    every SLA-credit accrual computes. Exactness is the point: instead
    of float shares (sum-order nondeterminism) or decimal division
    (engine rounding modes differ), each day gets the integer
    largest-remainder allocation cents//span + (idx < cents%span), so
    per-line allocations sum EXACTLY to the line's cents and every
    engine agrees bitwise. Shape: the Spark side folds the per-day
    largest-remainder schedule in CLOSED FORM per (line, month) — a
    month receives n_days*(cents//span) + clamp(rem - start_idx, 0,
    n_days) cents, where [start_idx, end_idx] is the slice of the
    0..span-1 day index falling inside the month — so the explode is
    by months touched (≤3 for a ≤59-day span), not by days (≤59), and
    the open-line countDistinct runs over a ~15x smaller exchange (the
    fixture's lineitem carries duplicate (orderkey, linenumber) ids,
    so the audit must stay DISTINCT line ids, matching the oracle).
    The oracle keeps the literal per-day unnest, so the differential
    gate is also a machine check that the closed form equals the
    day-by-day schedule. At 100 TB the explode stays pipelined inside
    the scan stage and the shuffle carries only month-keyed partials."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        to_cents("l_extendedprice").alias("cents"),
        (10 + F.col("l_partkey") % 50).cast("bigint").alias("span_days"),
    )
    ship = F.col("l_shipdate").cast("date")
    last = F.date_add(ship, (F.col("span_days") - 1).cast("int"))
    n_extra_months = F.months_between(F.trunc(last, "MM"), F.trunc(ship, "MM")).cast(
        "int"
    )
    months = base.select(
        "cents",
        "span_days",
        "l_shipdate",
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("line_id"),
        F.explode(F.sequence(F.lit(0), n_extra_months)).alias("m"),
    )
    month = F.add_months(F.trunc(F.col("l_shipdate").cast("date"), "MM"), F.col("m"))
    month_end = F.date_sub(F.add_months(month, 1), 1)
    start_idx = F.greatest(
        F.lit(0).cast("bigint"),
        F.datediff(month, F.col("l_shipdate").cast("date")).cast("bigint"),
    )
    end_idx = F.least(
        F.col("span_days") - 1,
        F.datediff(month_end, F.col("l_shipdate").cast("date")).cast("bigint"),
    )
    n_days = end_idx - start_idx + 1
    rem = F.col("cents") % F.col("span_days")
    bonus = F.greatest(
        F.lit(0).cast("bigint"), F.least(rem - start_idx, n_days)
    )
    alloc = months.select(
        month.alias("month"),
        (
            n_days * F.floor(F.col("cents") / F.col("span_days")) + bonus
        ).alias("month_cents"),
        "line_id",
    )
    return alloc.groupBy("month").agg(
        F.sum("month_cents").cast("bigint").alias("recognized_cents"),
        F.countDistinct("line_id").cast("bigint").alias("n_open_lines"),
    )


@register(
    "asof_arrow_grouped",
    tags=("temporal", "asof", "join", "udf"),
    oracle=ASOF_CLICK_ORACLE,
)
def asof_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of attribution as [[asof_purchase_to_click]], executed
    through the OTHER physical strategy: cogrouped `applyInPandas`
    running `pandas.merge_asof` per user — one Arrow batch per group,
    a sort-merge backward search inside the kernel instead of the
    declarative window/join plan. Registered against the identical
    DuckDB ASOF JOIN oracle, so the two spellings are pinned equal —
    the plan-diversity pattern [[similarity_gram_matrix_arrow]] uses
    for linear algebra, applied to temporal joins. When to prefer it
    at 100 TB: the declarative plan wins when clicks are huge and
    Catalyst can sort-merge once; the cogroup kernel wins when per-key
    series fit memory and downstream wants more per-group pandas logic
    (feature engineering) fused into the same pass. Shuffle: one
    exchange per side keyed by user_id — the same cost as the join it
    replaces."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("value").alias("click_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )

    schema = (
        "event_id bigint, user_id bigint, purchase_ts timestamp, "
        "asof_click_ts timestamp, asof_click_value double, lag_seconds bigint"
    )

    def asof_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=[
                    "event_id", "user_id", "purchase_ts",
                    "asof_click_ts", "asof_click_value", "lag_seconds",
                ]
            )
        left = left.sort_values("purchase_ts")
        if right.empty:
            out = left.copy()
            out["asof_click_ts"] = pd.NaT
            out["asof_click_value"] = None
            out["lag_seconds"] = pd.array([None] * len(out), dtype="Int64")
            return out[
                ["event_id", "user_id", "purchase_ts",
                 "asof_click_ts", "asof_click_value", "lag_seconds"]
            ]
        right = right.sort_values("click_ts")
        out = pd.merge_asof(
            left,
            right[["click_ts", "click_value"]],
            left_on="purchase_ts",
            right_on="click_ts",
            direction="backward",
            allow_exact_matches=True,
        ).rename(
            columns={"click_ts": "asof_click_ts", "click_value": "asof_click_value"}
        )
        # whole-second lag, matching unix_timestamp()/date_diff('second')
        lag = (
            out["purchase_ts"].dt.floor("s") - out["asof_click_ts"].dt.floor("s")
        ).dt.total_seconds()
        out["lag_seconds"] = pd.array(
            [None if pd.isna(v) else int(v) for v in lag], dtype="Int64"
        )
        return out[
            ["event_id", "user_id", "purchase_ts",
             "asof_click_ts", "asof_click_value", "lag_seconds"]
        ]

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(lambda l, r: asof_group(l, r), schema=schema)
    )


@register(
    "events_peak_concurrency",
    tags=("temporal", "window", "events"),
    oracle="""
WITH iv AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
         min(ts) AS s, max(ts) AS e
  FROM events GROUP BY 1, 2
), deltas AS (
  SELECT day, user_id, s AS ts, 1 AS delta FROM iv
  UNION ALL
  SELECT day, user_id, e AS ts, -1 AS delta FROM iv
), swept AS (
  SELECT day, ts,
         CAST(sum(delta) OVER (PARTITION BY day
              ORDER BY ts, delta DESC, user_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS conc
  FROM deltas
), mx AS (
  SELECT day, max(conc) AS max_concurrent FROM swept GROUP BY day
), nu AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM iv GROUP BY day
)
SELECT m.day,
       n.n_users,
       m.max_concurrent,
       min(s.ts) AS peak_ts
FROM mx m
JOIN swept s ON s.day = m.day AND s.conc = m.max_concurrent
JOIN nu n ON n.day = m.day
GROUP BY m.day, n.n_users, m.max_concurrent
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PEAK user concurrency at timestamp grain — the capacity
    question ("what was the worst instant, and when?") that
    [[temporal_open_interval_count]]'s day-grain net counts can't
    answer. Each user's daily presence is the [first event, last event]
    interval; the sweep line is +1/-1 deltas cumulated in ONE window
    partitioned by day with the tie order pinned three-deep
    (ts, start-before-end, user_id) — so a start and an end at the same
    instant count as overlapping, and equal-timestamp users sweep in id
    order on both engines. The peak instant is the FIRST timestamp
    attaining the max (min(ts) over peak rows), the argmax tie
    discipline the round-3 session-window fixes mandated.

    Scale: per-user-day collapse is one keyed agg; the sweep window is
    partitioned by day (parallel across days, 2*users rows inside
    each); peak extraction joins day-cardinality frames. Nothing global
    except the final day-level result."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    deltas = iv.select(
        "day", "user_id", F.col("s").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select("day", "user_id", F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    )
    wsweep = (
        Window.partitionBy("day")
        .orderBy(F.col("ts"), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = deltas.select(
        "day", "ts", F.sum("delta").over(wsweep).cast("bigint").alias("conc")
    )
    mx = swept.groupBy("day").agg(F.max("conc").alias("max_concurrent"))
    nu = iv.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    return (
        mx.alias("m")
        .join(
            swept.alias("s"),
            (F.col("s.day") == F.col("m.day"))
            & (F.col("s.conc") == F.col("m.max_concurrent")),
        )
        .join(nu.alias("n"), F.col("n.day") == F.col("m.day"))
        .groupBy(
            F.col("m.day").alias("day"),
            F.col("n.n_users").alias("n_users"),
            F.col("m.max_concurrent").alias("max_concurrent"),
        )
        .agg(F.min(F.col("s.ts")).alias("peak_ts"))
    )


@register(
    "temporal_mom_growth",
    tags=("temporal", "window"),
    oracle="""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(round(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
), g AS (
  SELECT month, cents, n_orders,
         lag(cents, 1) OVER (ORDER BY month) AS prev_m,
         lag(cents, 12) OVER (ORDER BY month) AS prev_y
  FROM monthly
)
SELECT month, n_orders, cents,
       CASE WHEN prev_m IS NOT NULL AND prev_m > 0
            THEN round((cents - prev_m) * 1e0 / prev_m, 6) END AS mom_growth,
       CASE WHEN prev_y IS NOT NULL AND prev_y > 0
            THEN round((cents - prev_y) * 1e0 / prev_y, 6) END AS yoy_growth
FROM g
""",
)
def temporal_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the
    reporting staple every BI layer derives from a monthly rollup
    (lag 1 = momentum, lag 12 = seasonality-free comparison; the pair
    disagreeing is how you tell decline from seasonality,
    cf [[stats_autocorrelation]]'s acf_7 at day grain). First month /
    first year emit NULL growth honestly (no fabricated 0%); a
    zero-revenue base month also yields NULL rather than an infinite
    ratio (the divide-by-zero guard class).

    Scale: the fact table collapses to month cardinality in one agg;
    the two lags share one window over that tiny series. Exact cents
    sums make the growth ratios identical on both engines."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(to_cents("o_totalprice"))
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    # unpartitioned window is safe: the frame is the MONTHLY series
    w = Window.orderBy("month")  # frame: bounded (month-grain)
    g = monthly.select(
        "month",
        "cents",
        "n_orders",
        F.lag("cents", 1).over(w).alias("prev_m"),
        F.lag("cents", 12).over(w).alias("prev_y"),
    )
    return g.select(
        "month",
        "n_orders",
        "cents",
        F.when(
            F.col("prev_m").isNotNull() & (F.col("prev_m") > 0),
            F.round((F.col("cents") - F.col("prev_m")) * 1.0 / F.col("prev_m"), 6),
        ).alias("mom_growth"),
        F.when(
            F.col("prev_y").isNotNull() & (F.col("prev_y") > 0),
            F.round((F.col("cents") - F.col("prev_y")) * 1.0 / F.col("prev_y"), 6),
        ).alias("yoy_growth"),
    )


@register(
    "temporal_holt_smoothing",
    tags=("temporal", "forecast", "iterative"),
    oracle=f"""
WITH RECURSIVE monthly AS MATERIALIZED (
  -- exact cents sum + integer half-up to dollars: round(sum(double))
  -- diverged cross-engine at sf1 (fourth-scale gate), because the
  -- double accumulation drift crosses .5 dollar boundaries
  SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS rn, y FROM (
    SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
           {sum_dollars_half_up_sql("o_totalprice")} AS y
    FROM orders GROUP BY 1)
), steps AS (
  SELECT rn AS t, y * 1e0 AS l, 0e0 AS b, 0e0 AS e FROM monthly WHERE rn = 1
  UNION ALL
  SELECT m.rn,
         s.l + s.b + 3e-1 * (m.y - s.l - s.b),
         s.b + 3e-2 * (m.y - s.l - s.b),
         s.e + abs(m.y - s.l - s.b)
  FROM steps s JOIN monthly m ON m.rn = s.t + 1
)
SELECT t AS n_months,
       round(l, 4) AS level_smoothed,
       round(b, 4) AS trend_smoothed,
       round(l + 1e0 * b, 4) AS forecast_h1,
       round(l + 2e0 * b, 4) AS forecast_h2,
       round(l + 3e0 * b, 4) AS forecast_h3,
       round(e / (t - 1), 4) AS one_step_mae
FROM steps WHERE t = (SELECT max(rn) FROM monthly)
""",
)
def temporal_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (additive level+trend,
    alpha=0.3, beta=0.1) over monthly revenue, in the error-correction
    form l' = (l+b) + a*err, b' = b + a*b_coef*err, err = y - (l+b) —
    run as ONE ordered aggregate() fold over the grain-capped month
    array (the recurrence is not prefix-sum expressible, but the fold
    keeps it off the driver). The one-step-ahead MAE accumulates inside
    the same fold; forecasts h=1..3 are l + h*b. The forecasting
    complement to [[temporal_seasonal_decompose]] (explains variance,
    doesn't extrapolate) and [[temporal_ewma_decay]] (level only).

    Engine hazard pinned here (new this round): DuckDB 1.0's
    list_reduce evaluates a struct accumulator's fields IN PLACE
    sequentially — field 2's expression sees field 1's NEW value —
    while Spark's aggregate() snapshots the accumulator, so any
    multi-field fold whose fields read each other silently diverges
    (verified: b/e wrong, l right, on a 3-element probe). The oracle
    therefore uses a RECURSIVE CTE stepping over a row_number'd month
    index (standard SQL semantics, previous row always a snapshot) with
    arithmetic written in the IDENTICAL error-correction op order, so
    both engines are bit-identical until the final rounds.

    Scale: fold length is the MONTH GRAIN (<=84 at any SF); the
    data-scale work is the one month hash agg — only (month, sum)
    pairs shuffle."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m")
    ).agg(sum_dollars_half_up("o_totalprice").alias("y"))
    arr = monthly.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "y"))), lambda s: s["y"]
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    init = F.struct(
        (F.element_at("ys", 1) * 1.0).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("e"),
    )

    def step(acc, v):
        err = v.cast("double") - acc["l"] - acc["b"]
        return F.struct(
            (acc["l"] + acc["b"] + 0.3 * err).alias("l"),
            (acc["b"] + 0.03 * err).alias("b"),
            (acc["e"] + F.abs(err)).alias("e"),
        )

    folded = arr.select(
        "n_months",
        F.aggregate(F.expr("slice(ys, 2, size(ys) - 1)"), init, step).alias("st"),
    )
    return folded.select(
        "n_months",
        F.round(F.col("st.l"), 4).alias("level_smoothed"),
        F.round(F.col("st.b"), 4).alias("trend_smoothed"),
        F.round(F.col("st.l") + 1.0 * F.col("st.b"), 4).alias("forecast_h1"),
        F.round(F.col("st.l") + 2.0 * F.col("st.b"), 4).alias("forecast_h2"),
        F.round(F.col("st.l") + 3.0 * F.col("st.b"), 4).alias("forecast_h3"),
        F.round(F.col("st.e") / (F.col("n_months") - 1), 4).alias("one_step_mae"),
    )


def orders_1996_by_day(spark: SparkSession, sf_dir: str, *aggs: Column) -> DataFrame:
    """The 1996 orders grouped by order day ``d``, with the caller's
    aggregates; :func:`orders_1996_by_day_sql` is its DuckDB twin."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    return o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(*aggs)


def orders_1996_by_day_sql(*aggs: str) -> str:
    return f"""SELECT CAST(o_orderdate AS DATE) AS d, {", ".join(aggs)}
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
  GROUP BY 1"""


@register(
    "temporal_kalman_local_level",
    tags=("temporal", "forecast", "iterative"),
    oracle=f"""
WITH RECURSIVE daily AS MATERIALIZED (
  -- exact cents + integer half-up (sf1-gate fix, see temporal_holt_smoothing)
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, y FROM (
    {orders_1996_by_day_sql(f'{sum_dollars_half_up_sql("o_totalprice")} AS y')})
), steps AS (
  SELECT rn AS t, y * 1e0 AS x, 1e12 AS p, 0e0 AS e FROM daily WHERE rn = 1
  UNION ALL
  SELECT d.rn,
         s.x + (s.p + 1e10) / (s.p + 1e10 + 1e12) * (d.y - s.x),
         (1e0 - (s.p + 1e10) / (s.p + 1e10 + 1e12)) * (s.p + 1e10),
         s.e + abs(d.y - s.x)
  FROM steps s JOIN daily d ON d.rn = s.t + 1
)
SELECT t AS n_days,
       round(x, 4) AS level,
       round(p, 4) AS variance,
       round((p + 1e10) / (p + 1e10 + 1e12), 6) AS steady_gain,
       round(e / (t - 1), 4) AS innovation_mae
FROM steps WHERE t = (SELECT max(rn) FROM daily)
""",
)
def temporal_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter over 1996 daily revenue (state x_t =
    x_{t-1} + w, observation y_t = x_t + v; Q=1e10, R=1e12): per step
    P_pred = P + Q, K = P_pred / (P_pred + R), x += K (y - x),
    P = (1-K) P_pred — the VARIANCE-ADAPTIVE smoother whose gain K
    starts high (trust the data while uncertain) and converges to the
    steady-state Riccati fixpoint, unlike the constant-alpha
    [[temporal_ewma_decay]] / [[temporal_holt_smoothing]] it
    generalizes. Emits the converged gain so the test can pin it
    against the closed-form steady state (q=Q/R: K* = (q + sqrt(q^2 +
    4q)) / (q + sqrt(q^2 + 4q) + 2) ... via P* from the scalar Riccati
    equation). Innovation MAE accumulates in the same pass.

    Same fold-vs-recursive-CTE discipline as [[temporal_holt_smoothing]]
    (whose docstring pins the DuckDB list_reduce in-place struct
    hazard this oracle avoids): ordered aggregate() fold in Spark, a
    RECURSIVE CTE over the row_number'd day index in DuckDB, identical
    +-*-/ op order, bit-identical until the final rounds.

    Scale: fold length is the bounded DAY GRAIN; the one day hash agg
    is the only data-scale work."""
    daily = orders_1996_by_day(spark, sf_dir, sum_dollars_half_up("o_totalprice").alias("y"))
    arr = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))), lambda s: s["y"]
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    Q, R = 1e10, 1e12
    init = F.struct(
        (F.element_at("ys", 1) * 1.0).alias("x"),
        F.lit(R).alias("p"),
        F.lit(0.0).alias("e"),
    )

    def step(acc, v):
        k = (acc["p"] + Q) / (acc["p"] + Q + R)
        return F.struct(
            (acc["x"] + k * (v.cast("double") - acc["x"])).alias("x"),
            ((F.lit(1.0) - k) * (acc["p"] + Q)).alias("p"),
            (acc["e"] + F.abs(v.cast("double") - acc["x"])).alias("e"),
        )

    folded = arr.select(
        "n_days",
        F.aggregate(F.expr("slice(ys, 2, size(ys) - 1)"), init, step).alias("st"),
    )
    return folded.select(
        "n_days",
        F.round(F.col("st.x"), 4).alias("level"),
        F.round(F.col("st.p"), 4).alias("variance"),
        F.round((F.col("st.p") + Q) / (F.col("st.p") + Q + R), 6).alias("steady_gain"),
        F.round(F.col("st.e") / (F.col("n_days") - 1), 4).alias("innovation_mae"),
    )


@register(
    "temporal_sax_symbols",
    tags=("temporal", "text"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum({to_cents_sql("o_totalprice")}) AS HUGEINT) AS cents
  FROM orders GROUP BY 1
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS s,
         CAST(sum(cents * cents) AS HUGEINT) AS q,
         min(day) AS d0
  FROM daily
), seg AS (
  SELECT date_diff('day', b.d0, d.day) // 7 AS seg,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(d.cents) AS HUGEINT) AS seg_cents
  FROM daily d, base b
  GROUP BY 1
), z AS (
  SELECT seg, n_days,
         (CAST(seg_cents AS DOUBLE) / n_days
          - CAST(b.s AS DOUBLE) / b.n)
         / sqrt(CAST(b.q AS DOUBLE) / b.n
                - (CAST(b.s AS DOUBLE) / b.n) * (CAST(b.s AS DOUBLE) / b.n))
           AS paa_z
  FROM seg, base b
)
SELECT seg, n_days, round(paa_z, 6) AS paa_z,
       CASE WHEN paa_z < -0.6745 THEN 'a'
            WHEN paa_z < 0 THEN 'b'
            WHEN paa_z < 0.6745 THEN 'c'
            ELSE 'd' END AS symbol
FROM z
""",
)
def temporal_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin/Keogh 2003) of the daily revenue series:
    Piecewise Aggregate Approximation over calendar weeks, then each
    segment's z-score maps to a 4-letter alphabet at the Gaussian
    quartile breakpoints (-0.6745, 0, +0.6745) — the discretization
    that turns a numeric series into a STRING, so motif discovery,
    anomaly grep, and [[text_winnowing_fingerprints]]-style indexing
    run on time series with text machinery. Every branch-compare is
    engine-deterministic by construction: global mean/variance and
    each week's PAA come from EXACT integer-cents sums (decimal/
    HUGEINT), so the doubles being compared to the breakpoints are
    bit-identical on both engines and a boundary value cannot
    symbolize differently (the borderline-flip hazard that would make
    a float-summed z unverifiable).

    Scale: one exchange to the day grain, one to the week grain (both
    map-side combined), one broadcast of the 4-number moment row. The
    symbol table is |weeks| rows — the whole point of SAX is that
    downstream works on this reduced alphabet, not the raw series."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    base = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("decimal(38,0)").alias("q"),
        F.min("day").alias("d0"),
    )
    seg = (
        daily.crossJoin(F.broadcast(base))
        .groupBy(
            F.floor(F.datediff(F.col("day"), F.col("d0")) / 7).alias("seg")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("cents").cast("decimal(38,0)").alias("seg_cents"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    std = F.sqrt(F.col("q").cast("double") / F.col("n") - mean * mean)
    paa_z = (F.col("seg_cents").cast("double") / F.col("n_days") - mean) / std
    return (
        seg.crossJoin(F.broadcast(base))
        .select(
            "seg",
            "n_days",
            F.round(paa_z, 6).alias("paa_z"),
            F.when(paa_z < -0.6745, "a")
            .when(paa_z < 0, "b")
            .when(paa_z < 0.6745, "c")
            .otherwise("d")
            .alias("symbol"),
        )
    )


CROSTON_ALPHA = 0.2


@register(
    "temporal_croston_intermittent",
    tags=("temporal", "forecast", "iterative"),
    oracle=f"""
WITH RECURSIVE demand AS MATERIALIZED (
  SELECT CAST(l_shipdate AS DATE) AS d,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#1'
    AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  GROUP BY 1
), grid AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY g.d) AS BIGINT) AS rn,
         coalesce(m.y, 0) AS y
  FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-12-31',
                                      INTERVAL 1 DAY))::DATE AS d) g
  LEFT JOIN demand m ON m.d = g.d
), first_hit AS (
  SELECT min(rn) AS f FROM grid WHERE y > 0
), steps AS (
  SELECT g.rn AS t, g.y * 1e0 AS z, f.f * 1e0 AS q, CAST(1 AS BIGINT) AS ps,
         CAST(1 AS BIGINT) AS nd
  FROM grid g, first_hit f WHERE g.rn = f.f
  UNION ALL
  SELECT g.rn,
         CASE WHEN g.y > 0
              THEN s.z + {CROSTON_ALPHA} * (g.y - s.z) ELSE s.z END,
         CASE WHEN g.y > 0
              THEN s.q + {CROSTON_ALPHA} * (s.ps - s.q) ELSE s.q END,
         CASE WHEN g.y > 0 THEN 1 ELSE s.ps + 1 END,
         s.nd + CASE WHEN g.y > 0 THEN 1 ELSE 0 END
  FROM steps s JOIN grid g ON g.rn = s.t + 1
)
SELECT CAST((SELECT count(*) FROM grid) AS BIGINT) AS n_periods,
       nd AS n_demand_periods,
       round(z, 4) AS z_level,
       round(q, 4) AS q_interval,
       round(z / q, 4) AS croston_forecast,
       round((1 - {CROSTON_ALPHA} / 2) * z / q, 4) AS sba_forecast,
       round(nd * 1e0 / (SELECT count(*) FROM grid), 6) AS demand_rate
FROM steps WHERE t = (SELECT max(rn) FROM grid)
""",
)
def temporal_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) with the Syntetos-Boylan approximation
    for INTERMITTENT demand — Brand#1's daily 1996 shipments, a series
    that is mostly zeros, where SES/[[temporal_holt_smoothing]]
    systematically lag (they decay toward zero between demands and
    spike after each one). Croston smooths the demand SIZE z and the
    inter-arrival INTERVAL q as two coupled exponential averages that
    update ONLY on demand periods (zero periods just lengthen the
    running gap), forecasting a demand RATE z/q per period; SBA's
    (1 - alpha/2) factor removes Croston's known positive bias. The
    two-field sequential state folds exactly like
    [[temporal_kalman_local_level]]: Spark `F.aggregate` with a struct
    accumulator over the gap-filled day grid, DuckDB a recursive CTE
    over the row_number'd grid (NOT list_reduce — the in-place struct
    hazard [[temporal_holt_smoothing]] pins), identical double
    arithmetic from identical integer quantities on both engines.

    Scale: the brand filter prunes at the part scan and the join
    reduces to the bounded 366-day grid before any sequential work;
    the fold is grid-bounded forever. Thousands of SKUs would fold in
    parallel under a groupBy(part) with the same per-series bound."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    demand = (
        li.join(F.broadcast(pt.select("p_partkey")), li.l_partkey == pt.p_partkey)
        .where(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
        )
        .groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("y"))
    )
    grid = spark.sql(
        "SELECT explode(sequence(DATE'1996-01-01', DATE'1996-12-31', interval 1 day)) AS d"
    )
    series = (
        grid.join(demand, "d", "left")
        .select("d", F.coalesce("y", F.lit(0)).cast("bigint").alias("y"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "y"))), lambda s: s["y"]
            ).alias("ys"),
            F.count(F.lit(1)).cast("bigint").alias("n_periods"),
        )
    )
    a = CROSTON_ALPHA
    # position of the first demand period (1-based); the fold starts there
    first_hit = F.expr("array_position(transform(ys, y -> y > 0), true)")
    init = F.struct(
        F.element_at("ys", first_hit.cast("int")).cast("double").alias("z"),
        first_hit.cast("double").alias("q"),
        F.lit(1).cast("bigint").alias("ps"),
        F.lit(1).cast("bigint").alias("nd"),
    )

    def step(acc, v):
        hit = v > 0
        return F.struct(
            F.when(hit, acc["z"] + a * (v.cast("double") - acc["z"]))
            .otherwise(acc["z"])
            .alias("z"),
            F.when(hit, acc["q"] + a * (acc["ps"].cast("double") - acc["q"]))
            .otherwise(acc["q"])
            .alias("q"),
            F.when(hit, F.lit(1).cast("bigint"))
            .otherwise(acc["ps"] + 1)
            .alias("ps"),
            (acc["nd"] + F.when(hit, 1).otherwise(0)).cast("bigint").alias("nd"),
        )

    folded = series.select(
        "n_periods",
        F.aggregate(
            F.expr(
                "slice(ys, cast(array_position(transform(ys, y -> y > 0), true) as int) + 1, "
                "size(ys))"
            ),
            init,
            step,
        ).alias("st"),
    )
    return folded.select(
        "n_periods",
        F.col("st.nd").alias("n_demand_periods"),
        F.round("st.z", 4).alias("z_level"),
        F.round("st.q", 4).alias("q_interval"),
        F.round(F.col("st.z") / F.col("st.q"), 4).alias("croston_forecast"),
        F.round((1 - a / 2) * F.col("st.z") / F.col("st.q"), 4).alias("sba_forecast"),
        F.round(F.col("st.nd") * 1.0 / F.col("n_periods"), 6).alias("demand_rate"),
    )


PW_KNOT = "1997-07-01"  # hinge location (known deployment date)


@register(
    "temporal_piecewise_trend",
    tags=("temporal", "forecast", "regression"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              AS HUGEINT) AS t,
         CAST(greatest(date_diff('day', DATE '{PW_KNOT}',
                                 CAST(o_orderdate AS DATE)), 0) AS HUGEINT) AS h,
         CAST(sum({to_cents_sql("o_totalprice")}) AS HUGEINT) AS y
  FROM orders GROUP BY o_orderdate
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(t) AS st, sum(h) AS sh, sum(y) AS sy,
         sum(t * t) AS stt, sum(t * h) AS sth, sum(h * h) AS shh,
         sum(t * y) AS sty, sum(h * y) AS shy,
         sum(y * y) AS syy
  FROM daily
), d AS (
  SELECT n,
         CAST(st AS DOUBLE) AS st, CAST(sh AS DOUBLE) AS sh,
         CAST(sy AS DOUBLE) AS sy, CAST(stt AS DOUBLE) AS stt,
         CAST(sth AS DOUBLE) AS sth, CAST(shh AS DOUBLE) AS shh,
         CAST(sty AS DOUBLE) AS sty, CAST(shy AS DOUBLE) AS shy,
         CAST(syy AS DOUBLE) AS syy
  FROM m
), solved AS (
  SELECT n, sy, syy,
         n * (stt * shh - sth * sth)
           - st * (st * shh - sth * sh)
           + sh * (st * sth - stt * sh) AS det,
         sy * (stt * shh - sth * sth)
           - st * (sty * shh - sth * shy)
           + sh * (sty * sth - stt * shy) AS det_a,
         n * (sty * shh - sth * shy)
           - sy * (st * shh - sth * sh)
           + sh * (st * shy - sty * sh) AS det_b,
         n * (stt * shy - sty * sth)
           - st * (st * shy - sty * sh)
           + sy * (st * sth - stt * sh) AS det_c
  FROM d
)
SELECT n AS n_days,
       round(det_a / det / 100, 4) AS intercept,
       round(det_b / det / 100, 6) AS slope_before,
       round((det_b + det_c) / det / 100, 6) AS slope_after,
       round(det_c / det / 100, 6) AS slope_change,
       round(1 - (syy - (det_a * sy + det_b * (SELECT sty FROM d)
                         + det_c * (SELECT shy FROM d)) / det)
                 / (syy - sy * sy / n), 6) AS r2
FROM solved
""",
)
def temporal_piecewise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-linear trend with a KNOWN hinge (the Prophet-style
    changepoint regression, one knot at {PW_KNOT}): fit
    y = a + b*t + c*max(0, t - knot) by least squares — the FIT
    companion to [[stats_chow_test]] (which only answers "did the slope
    break?") and [[stats_pettitt_changepoint]] (which finds WHERE):
    given a known intervention date, this measures the before-slope,
    after-slope, and the change, plus R^2. The 3x3 normal equations
    solve in closed form via Cramer's rule — no iteration — and all
    ten co-moments accumulate as EXACT integers (day index, hinge
    feature, and revenue cents in HUGEINT/decimal(38,0)), so the
    determinant ratios start from identical integers on both engines
    (the [[stats_vif_multicollinearity]] discipline at one more
    dimension).

    Scale: one exchange to the day grain with map-side combine, one
    10-number moment agg, constant Cramer algebra. More knots = more
    moment columns, same shape (a 5x5 solve is still closed-form)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("decimal(38,0)")
            .alias("y")
        )
        .select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            )
            .cast("decimal(38,0)")
            .alias("t"),
            F.greatest(
                F.datediff(
                    F.col("o_orderdate").cast("date"), F.lit(PW_KNOT).cast("date")
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("h"),
            "y",
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").alias("st"), F.sum("h").alias("sh"), F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("h")).alias("sth"),
        F.sum(F.col("h") * F.col("h")).alias("shh"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("h") * F.col("y")).alias("shy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = m.select(
        "n",
        *[F.col(c).cast("double").alias(c) for c in (
            "st", "sh", "sy", "stt", "sth", "shh", "sty", "shy", "syy"
        )],
    )
    det = (
        F.col("n") * (F.col("stt") * F.col("shh") - F.col("sth") * F.col("sth"))
        - F.col("st") * (F.col("st") * F.col("shh") - F.col("sth") * F.col("sh"))
        + F.col("sh") * (F.col("st") * F.col("sth") - F.col("stt") * F.col("sh"))
    )
    det_a = (
        F.col("sy") * (F.col("stt") * F.col("shh") - F.col("sth") * F.col("sth"))
        - F.col("st") * (F.col("sty") * F.col("shh") - F.col("sth") * F.col("shy"))
        + F.col("sh") * (F.col("sty") * F.col("sth") - F.col("stt") * F.col("shy"))
    )
    det_b = (
        F.col("n") * (F.col("sty") * F.col("shh") - F.col("sth") * F.col("shy"))
        - F.col("sy") * (F.col("st") * F.col("shh") - F.col("sth") * F.col("sh"))
        + F.col("sh") * (F.col("st") * F.col("shy") - F.col("sty") * F.col("sh"))
    )
    det_c = (
        F.col("n") * (F.col("stt") * F.col("shy") - F.col("sty") * F.col("sth"))
        - F.col("st") * (F.col("st") * F.col("shy") - F.col("sty") * F.col("sh"))
        + F.col("sy") * (F.col("st") * F.col("sth") - F.col("stt") * F.col("sh"))
    )
    rss_explained = (det_a * F.col("sy") + det_b * F.col("sty") + det_c * F.col("shy")) / det
    return d.select(
        F.col("n").alias("n_days"),
        F.round(det_a / det / 100, 4).alias("intercept"),
        F.round(det_b / det / 100, 6).alias("slope_before"),
        F.round((det_b + det_c) / det / 100, 6).alias("slope_after"),
        F.round(det_c / det / 100, 6).alias("slope_change"),
        F.round(
            1
            - (F.col("syy") - rss_explained)
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            6,
        ).alias("r2"),
    )
