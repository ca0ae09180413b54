"""Window-function surface: ranking, analytic (lag/lead/first/last),
running/moving frames, range frames, and top-k per group.

Absent in the reference (SURVEY.md §2.3). Every window partitions by a
key before ordering — one exchange on the partition key, sort within
partitions, no global sort; ties are always broken by a unique column so
results stay deterministic for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table


@register(
    "window_ranking",
    tags=("window",),
    oracle="""
SELECT c_custkey, c_nationkey,
       row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
       rank()       OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2) DESC)  AS rnk,
       dense_rank() OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2) DESC)  AS drnk,
       ntile(4)     OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS quartile
FROM customer
""",
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per nation."""
    c = load_table(spark, sf_dir, "customer")
    tiebreak = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    by_bal = W.partitionBy("c_nationkey").orderBy(F.round("c_acctbal", 2).desc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(tiebreak).alias("rn"),
        F.rank().over(by_bal).alias("rnk"),
        F.dense_rank().over(by_bal).alias("drnk"),
        F.ntile(4).over(tiebreak).alias("quartile"),
    )


@register(
    "window_analytic",
    tags=("window",),
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE)                                                      AS order_date,
       CAST(lag(o_orderdate)  OVER w AS DATE)                                         AS prev_date,
       CAST(lead(o_orderdate) OVER w AS DATE)                                         AS next_date,
       first_value(o_orderkey) OVER w                                                 AS first_order,
       last_value(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
       datediff('day', CAST(lag(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value/last_value per customer order history."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.lag("o_orderdate").over(w).cast("date").alias("prev_date"),
        F.lead("o_orderdate").over(w).cast("date").alias("next_date"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lag("o_orderdate").over(w).cast("date")
        ).alias("days_since_prev"),
    )


@register(
    "window_running_frames",
    tags=("window",),
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
       round(avg(l_extendedprice) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)    AS moving_avg_price,
       count(*) OVER (PARTITION BY l_suppkey)                                            AS supp_lines
FROM lineitem
WHERE l_orderkey <= 400
""",
)
def window_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + 5-row moving average + unbounded count frames."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 400)
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2).alias("running_qty"),
        F.round(F.avg("l_extendedprice").over(w.rowsBetween(-4, W.currentRow)), 4).alias("moving_avg_price"),
        F.count(F.lit(1)).over(W.partitionBy("l_suppkey")).alias("supp_lines"),
    )


@register(
    "window_range_frame",
    tags=("window",),
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS n_similar
FROM orders
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per customer, orders within ±5000 of each order's price."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-5000, 5000)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        F.count(F.lit(1)).over(w).alias("n_similar"),
    )


@register(
    "topk_per_group",
    bench=True,
    tags=("window", "topk"),
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the canonical window top-k; Spark
    pushes the rank filter into the sort (WindowGroupLimit) so each
    partition keeps only k rows."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rn")
    )


@register(
    "window_share_of_total",
    tags=("window", "agg"),
    oracle="""
WITH nat AS (
  SELECT n_name, n_regionkey, round(sum(s_acctbal), 2) AS nat_bal
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, n_regionkey
)
SELECT n_name, nat_bal,
       round(nat_bal / sum(nat_bal) OVER (PARTITION BY n_regionkey), 6) AS region_share,
       round(nat_bal / sum(nat_bal) OVER (), 6)                         AS global_share
FROM nat
""",
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's supplier balance as a share of its
    region and of the world — the percent-of-total verb every BI rollup
    needs. Aggregate once, then two window sums over the small result
    (never a second scan of the fact side)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nat = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "n_regionkey")
        .agg(F.round(F.sum("s_acctbal"), 2).alias("nat_bal"))
    )
    w_region = W.partitionBy("n_regionkey")
    w_all = W.partitionBy()
    return nat.select(
        "n_name",
        "nat_bal",
        F.round(F.col("nat_bal") / F.sum("nat_bal").over(w_region), 6).alias("region_share"),
        F.round(F.col("nat_bal") / F.sum("nat_bal").over(w_all), 6).alias("global_share"),
    )


@register(
    "window_pattern_vshape",
    tags=("window", "pattern"),
    oracle="""
WITH s AS (
  SELECT user_id, value,
         lag(value)  OVER w AS prev_v,
         lead(value) OVER w AS next_v
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), marks AS (
  SELECT user_id,
         CASE WHEN prev_v > value AND next_v > value
                   AND prev_v - value >= 20 AND next_v - value >= 20
              THEN 1 ELSE 0 END AS is_v,
         CASE WHEN prev_v > value AND next_v > value
                   AND prev_v - value >= 20 AND next_v - value >= 20
              THEN round(least(prev_v - value, next_v - value), 4) END AS depth
  FROM s
)
SELECT user_id,
       CAST(sum(is_v) AS BIGINT) AS n_vshapes,
       round(max(depth), 4) AS max_depth
FROM marks
GROUP BY user_id
HAVING sum(is_v) > 0
""",
)
def window_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern detection (the lag/lead form of MATCH_RECOGNIZE's
    DOWN+ UP+ idiom): flag V-shaped dips in each user's value sequence —
    a strictly-lower point flanked by neighbors ≥20 higher — and report
    count and deepest dip per user. Sequence order is pinned by
    (ts, event_id) so both engines see identical neighbors. One user_id
    exchange feeds the lag, the lead, and the final aggregate; at
    100 TB fixed-length patterns stay this single-window shape, and
    variable-length patterns move to applyInPandasWithState (see
    streaming/stateful.py) with the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_v"),
        F.lead("value").over(w).alias("next_v"),
    )
    is_v = (
        (F.col("prev_v") > F.col("value"))
        & (F.col("next_v") > F.col("value"))
        & (F.col("prev_v") - F.col("value") >= 20)
        & (F.col("next_v") - F.col("value") >= 20)
    )
    marks = s.select(
        "user_id",
        F.when(is_v, 1).otherwise(0).alias("is_v"),
        F.when(
            is_v,
            F.round(
                F.least(
                    F.col("prev_v") - F.col("value"),
                    F.col("next_v") - F.col("value"),
                ),
                4,
            ),
        ).alias("depth"),
    )
    return (
        marks.groupBy("user_id")
        .agg(
            F.sum("is_v").cast("bigint").alias("n_vshapes"),
            F.round(F.max("depth"), 4).alias("max_depth"),
        )
        .filter(F.col("n_vshapes") > 0)
    )


@register(
    "window_streak_islands",
    tags=("window", "pattern"),
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
), ranked AS (
  SELECT user_id, day,
         day - to_days(CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER))
           AS island
  FROM days
), streaks AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS streak_len, min(day) AS streak_start
  FROM ranked GROUP BY user_id, island
)
SELECT user_id,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks,
       min(streak_start) FILTER (WHERE streak_len = (
         SELECT max(s2.streak_len) FROM streaks s2 WHERE s2.user_id = streaks.user_id
       )) AS best_streak_start
FROM streaks
GROUP BY user_id
""",
)
def window_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's consecutive-active-day streaks.
    The classic rewrite — day minus its per-user row_number is CONSTANT
    within a consecutive run, so grouping by that difference labels
    islands with zero self-joins. Reports longest streak, streak count,
    and the start of the (earliest) longest streak per user. One
    user_id exchange shared by the distinct, the window, and both
    aggregates; at 100 TB the presence-pair dedup collapses the fact
    table before anything else runs."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    ranked = days.select(
        "user_id",
        "day",
        (F.col("day") - F.make_interval(days=rn)).alias("island"),
    )
    streaks = ranked.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.min_by(
            "streak_start",
            F.struct((-F.col("streak_len")).alias("a"), F.col("streak_start").alias("b")),
        ).alias("best_streak_start"),
    )


@register(
    "window_cumsum_scalable",
    tags=("window", "scale"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS day_cents
  FROM orders GROUP BY 1
)
SELECT day, day_cents,
       CAST(sum(day_cents) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
FROM daily
""",
)
def window_cumsum_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running total WITHOUT a single-partition window — the
    100 TB form of `sum() OVER (ORDER BY ...)`.

    A bare global ORDER BY window collapses the frame into one task
    (Spark's "No Partition Defined for Window" warning — fine on the
    deliberately-reduced frames elsewhere in this repo, fatal on a
    billion-row frame). This operator shows the scalable rewrite:

      1. bucket rows by a key derived DETERMINISTICALLY from the order
         key itself — `floor(unix_date(day) / 90)`, monotone in `day`,
         so bucket i's rows all precede bucket i+1's (an earlier
         version tagged `spark_partition_id()` after
         `repartitionByRange`, which was only correct while Catalyst
         deduplicated the two scans into one reused exchange — ADVICE
         r03; a data-derived bucket is correct however the plan
         shakes out);
      2. per-bucket running sum (window partitioned by `_pid` —
         parallel, no collapse);
      3. per-bucket totals (a buckets-cardinality frame) turn into
         prefix offsets via a tiny cumulative window;
      4. broadcast the offsets back and add.

    The result is identical to the one-task window for any bucket
    width — bucket boundaries cancel out of prefix-sum algebra — and
    the oracle (plain global window, fine at DuckDB's scale) proves it.
    At 100 TB, pick the width so each bucket's rows fit one task
    (here 90 days ≈ 28 buckets over TPC-H's 7-year span).
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(to_cents("o_totalprice")).alias(
                "day_cents"
            )
        )
    )
    bucketed = daily.withColumn(
        "_pid", F.floor(F.unix_date(F.col("day")) / F.lit(90))
    )
    local_w = (
        W.partitionBy("_pid")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = bucketed.withColumn("local_cum", F.sum("day_cents").over(local_w))
    totals = bucketed.groupBy("_pid").agg(F.sum("day_cents").alias("part_total"))
    offset_w = (
        W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)  # frame: bounded (bucket-cardinality two-phase offsets)
    )  # partitions-cardinality frame: tiny by construction
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("part_total").over(offset_w), F.lit(0)).alias("offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            "day",
            "day_cents",
            (F.col("local_cum") + F.col("offset")).alias("cum_cents"),
        )
    )


@register(
    "window_time_range_frame",
    tags=("window", "temporal"),
    oracle=f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
         {to_cents_sql("value")} AS cents
  FROM events
)
SELECT event_id, event_type, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_last_hour
FROM ev
WINDOW w AS (PARTITION BY event_type ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per event type, the trailing-one-hour
    event count and revenue at every event — the rolling-window feature
    a rules engine evaluates per record ("more than N purchases in the
    last hour"). RANGE (not ROWS) over epoch seconds, so all rows with
    equal timestamps share one frame regardless of tie order — the
    semantics ROWS frames cannot give; epoch-second ordering keeps the
    frame arithmetic identical on both engines.

    One exchange on event_type; each partition evaluates the frame with
    a sliding two-pointer pass over its sort — no self-join, no explode,
    state bounded by the hour's event count."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_seconds(F.col("ts")))
        .rangeBetween(-3600, 0)
    )
    cents = to_cents("value")
    return ev.select(
        "event_id",
        "event_type",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(cents).over(w).alias("cents_last_hour"),
    )


@register(
    "topk_incremental_maintenance",
    tags=("window", "ivm", "topk"),
    oracle=f"""
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey,
         {to_cents_sql("o_totalprice")} AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY round(o_totalprice * 100) DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_orderpriority, o_orderkey, cents, rn
FROM ranked WHERE rn <= 5
""",
)
def topk_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (EDBT 2020's interactive-session
    top-k, PAPERS.md): a standing per-group top-5 is refreshed by a
    delta batch WITHOUT rescanning history — merge(standing top-k,
    delta) re-ranked is provably the full-recompute top-k under
    insert-only deltas, because rows outside the standing top-k can
    never re-enter (top-k over a growing set is monotone-shrinking per
    element). The oracle IS the full recompute over all orders, so the
    hash match proves the merge algebra, the same differential
    discipline as `cdc_incremental_join_agg`.

    Plan: the standing side is k*groups rows (tiny); the refresh ranks
    standing ∪ delta — cost scales with |delta| + k*|groups|, never
    |history|. Deletions need the k+buffer or a recompute trigger;
    documented, out of scope for the insert-only contract here."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        to_cents("o_totalprice").alias("cents"),
    )
    history = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = o.filter(F.col("o_orderkey") % 10 == 0)
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("cents").desc(), F.col("o_orderkey")
    )
    standing = (
        history.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )
    return (
        standing.unionByName(delta)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


@register(
    "window_pattern_regex_funnel",
    tags=("window", "pattern", "events"),
    oracle="""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         substr(event_type, 1, 1) AS letter
  FROM events
), traj AS (
  SELECT user_id, string_agg(letter, '' ORDER BY ts, event_id) AS t
  FROM e GROUP BY user_id
)
SELECT user_id,
       CAST(length(t) AS BIGINT) AS n_events,
       CASE WHEN regexp_matches(t, 'v.*c.*p') THEN 1 ELSE 0 END AS funnel_vcp,
       CASE WHEN regexp_matches(t, 'e{2}') THEN 1 ELSE 0 END AS double_error,
       CASE WHEN regexp_matches(t, '^s') THEN 1 ELSE 0 END AS signup_first
FROM traj
""",
)
def window_pattern_regex_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern detection as REGEX over the ordered event
    string — the MATCH_RECOGNIZE idiom without MATCH_RECOGNIZE: each
    user's history collapses to a letter sequence (v/c/p/s/e, ordered
    by (ts, event_id)), and behavioral predicates become regexes —
    ordered funnel completion `v.*c.*p`, consecutive errors `e{2}`,
    signup-first `^s`. Arbitrarily complex order-sensitive patterns
    (alternation, bounded gaps via `.{0,k}`, anchors) cost one regex
    scan over a user-cardinality table instead of k-way self-joins —
    the same rewrite `similarity_user_trajectory` exploits for edit
    distance.

    One exchange builds the trajectories (collect_list + array_sort —
    per-user histories are session-sized); the regex stage is a
    zero-shuffle narrow map. Java and RE2 agree on this regex subset
    (no backrefs/lookaround, repo privacy-regex discipline)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("letter")
    )
    traj = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "letter"))
            ).alias("s")
        )
        .select(
            "user_id",
            F.array_join(F.transform("s", lambda st: st["letter"]), "").alias("t"),
        )
    )
    flag = lambda pat: F.when(F.col("t").rlike(pat), 1).otherwise(0)  # noqa: E731
    return traj.select(
        "user_id",
        F.length("t").cast("bigint").alias("n_events"),
        flag("v.*c.*p").alias("funnel_vcp"),
        flag("e{2}").alias("double_error"),
        flag("^s").alias("signup_first"),
    )


@register(
    "window_rolling_median",
    tags=("window", "temporal"),
    oracle="""
SELECT event_id, user_id,
       round(median(value) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             6) AS med7
FROM events
""",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median of each user's last 7 event values — the
    robust-smoothing twin of the EWMA query (outlier-immune where a
    rolling mean is not).

    Spark has no exact `median` window aggregate over a bounded frame,
    but the frame is small and bounded (k=7), so the right plan is
    collect_list over the ROWS frame -> array_sort -> middle element:
    O(k log k) per row of pure JVM array work inside the one exchange
    the window already pays, and state is capped at k values per row
    regardless of corpus size (this is NOT the unbounded-frame
    collect_list anti-pattern — the frame bound is what makes it scale).
    Ties in ts are pinned by event_id on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    arr = F.array_sort(F.collect_list(F.col("value")).over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return ev.select(
        "event_id", "user_id", F.round(med, 6).alias("med7")
    )


@register(
    "window_rolling_regression",
    tags=("window", "stats", "temporal"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(epoch(CAST(ts AS DATE)) AS BIGINT) // 86400 AS x,
         {to_cents_sql("sum(value)")} AS cents
  FROM events GROUP BY 1, 2
)
SELECT day,
       CAST(cents AS BIGINT) AS cents,
       CAST(count(*) OVER w AS BIGINT) AS n_window,
       round(regr_slope(cents, x) OVER w, 4) AS slope_7d,
       round(regr_r2(cents, x) OVER w, 4) AS r2_7d
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS over the daily revenue series: regression
    AGGREGATES AS WINDOW FUNCTIONS (regr_slope/regr_r2 OVER a ROWS
    frame) — the trend-of-the-moment view a monitoring dashboard draws,
    where `stats_theil_sen_trend` fits once globally. x is integer
    epoch-days and y integer cents, so each 7-point fit consumes exact
    integers; both engines accumulate the same ≤7 values per frame
    (4dp rounding absorbs summation-order ulps). Day-cardinality
    input: the unpartitioned ORDER BY is a single-partition frame over
    ~30 rows here and ~thousands at any horizon — the series length,
    never the event count (at billions of days you'd partition by
    series id, which is the `window_cumsum_scalable` rewrite)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        to_cents(F.sum("value")).alias("cents")
    ).withColumn("x", F.unix_date(F.col("day")).cast("bigint"))
    w = W.orderBy("day").rowsBetween(-6, W.currentRow)  # frame: bounded (day-grain)
    return daily.select(
        "day",
        F.col("cents").cast("bigint").alias("cents"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_window"),
        F.round(F.regr_slope("cents", "x").over(w), 4).alias("slope_7d"),
        F.round(F.regr_r2("cents", "x").over(w), 4).alias("r2_7d"),
    )


@register(
    "window_bollinger_bands",
    tags=("window", "temporal", "stats"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         {to_cents_sql("sum(value)")} AS cents
  FROM events GROUP BY 1
)
SELECT day, cents,
       CAST(count(*) OVER w AS BIGINT) AS n_window,
       round(avg(cents) OVER w, 4) AS sma,
       round(avg(cents) OVER w + 2.0 * coalesce(stddev_samp(cents) OVER w, 0.0), 4) AS band_hi,
       round(avg(cents) OVER w - 2.0 * coalesce(stddev_samp(cents) OVER w, 0.0), 4) AS band_lo,
       CASE WHEN cents > avg(cents) OVER w + 2.0 * coalesce(stddev_samp(cents) OVER w, 0.0)
            THEN 1
            WHEN cents < avg(cents) OVER w - 2.0 * coalesce(stddev_samp(cents) OVER w, 0.0)
            THEN -1 ELSE 0 END AS breakout
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on daily revenue: trailing-7 moving average ±2
    sample standard deviations, with a breakout flag when the day
    escapes its own band — the classic volatility-aware alerting rule
    (a fixed threshold alerts constantly on seasonal series; the band
    adapts). Same frame as `window_rolling_regression`; the stddev over
    ≤7 exact-integer cents is the only float, both engines accumulate
    identical values, 4dp. Day-one's stddev is NULL (n=1) — coalesced
    to 0 so the band collapses to the point, the same convention
    monitoring systems use for cold starts."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        to_cents(F.sum("value")).alias("cents")
    )
    w = W.orderBy("day").rowsBetween(-6, W.currentRow)  # frame: bounded (day-grain)
    sd = F.coalesce(F.stddev_samp("cents").over(w), F.lit(0.0))
    sma = F.avg("cents").over(w)
    hi, lo = sma + 2.0 * sd, sma - 2.0 * sd
    return daily.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_window"),
        F.round(sma, 4).alias("sma"),
        F.round(hi, 4).alias("band_hi"),
        F.round(lo, 4).alias("band_lo"),
        F.when(F.col("cents") > hi, 1)
        .when(F.col("cents") < lo, -1)
        .otherwise(0)
        .alias("breakout"),
    )


@register(
    "window_max_drawdown",
    tags=("window", "temporal", "analytics"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         {to_cents_sql("sum(value)")} AS cents
  FROM events GROUP BY 1
), cum AS (
  SELECT day, cents,
         CAST(sum(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS equity
  FROM daily
), dd AS (
  SELECT day, equity,
         CAST(max(equity) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
  FROM cum
)
SELECT day,
       equity,
       peak,
       CAST(peak - equity AS BIGINT) AS drawdown_cents,
       CASE WHEN peak > 0 THEN round((peak - equity) * 1.0 / peak, 6)
            ELSE 0.0 END AS drawdown_frac
FROM dd
""",
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown curve over cumulative daily revenue: running peak minus
    current equity, absolute and fractional — THE risk summary for any
    cumulative series (finance calls it max drawdown; an SLO dashboard
    calls it worst-burn-since-best). Two stacked cumulative windows
    (running sum, then running max of it) over day-cardinality rows,
    all integer cents until the final fraction; the same prefix-scan
    shape as `window_cumsum_scalable`, whose partitioned rewrite is
    the 100 TB path if the series ever outgrows one partition."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        to_cents(F.sum("value")).alias("cents")
    )
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)  # frame: bounded (day-grain)
    cum = daily.withColumn("equity", F.sum("cents").over(wc).cast("bigint"))
    dd = cum.withColumn("peak", F.max("equity").over(wc).cast("bigint"))
    return dd.select(
        "day",
        "equity",
        "peak",
        (F.col("peak") - F.col("equity")).cast("bigint").alias("drawdown_cents"),
        # peak == 0 iff the series opens at-or-below zero (first day nets
        # nothing): the fraction is undefined — emit 0.0 on both engines
        # (ANSI Spark NULLs, DuckDB errors; same guard as entropy/CUPED).
        F.when(
            F.col("peak") > 0,
            F.round((F.col("peak") - F.col("equity")) * 1.0 / F.col("peak"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("drawdown_frac"),
    )


@register(
    "window_local_maxima",
    tags=("window", "temporal", "analytics"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         {to_cents_sql("sum(value)")} AS cents
  FROM events GROUP BY 1
), framed AS (
  SELECT day, cents,
         max(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
           AS max_left,
         max(cents) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
           AS max_right,
         min(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
           AS min_left,
         min(cents) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
           AS min_right,
         row_number() OVER (ORDER BY day) AS rn,
         count(*) OVER () AS n_days
  FROM daily
)
SELECT day, cents,
       CAST(cents - greatest(coalesce(min_left, cents), coalesce(min_right, cents))
            AS BIGINT) AS prominence_cents
FROM framed
WHERE rn > 3 AND rn <= n_days - 3
  AND cents > max_left AND cents > max_right
""",
)
def window_local_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima (peak) detection on daily revenue with a +/-3-day
    neighborhood: a day is a peak when it strictly exceeds every value
    in both shoulders (edge days with truncated shoulders are excluded
    — a boundary day that merely lacks neighbors is not a peak), and
    its prominence is the drop to the higher of the two shoulder
    minima — the detector feeding alert dedup ('one incident, one
    page') and the peak list [[stats_extreme_value_gumbel]] models the
    tail of. Four frame aggregates over one day-ordered window (single
    day-cardinality sort, no self-joins); integer cents throughout."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        to_cents(F.sum("value")).alias("cents")
    )
    wd = W.orderBy("day")  # frame: bounded (day-grain)
    left = wd.rowsBetween(-3, -1)
    right = wd.rowsBetween(1, 3)
    framed = daily.select(
        "day",
        "cents",
        F.max("cents").over(left).alias("max_left"),
        F.max("cents").over(right).alias("max_right"),
        F.min("cents").over(left).alias("min_left"),
        F.min("cents").over(right).alias("min_right"),
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n_days"),
    )
    return framed.filter(
        (F.col("rn") > 3)
        & (F.col("rn") <= F.col("n_days") - 3)
        & (F.col("cents") > F.col("max_left"))
        & (F.col("cents") > F.col("max_right"))
    ).select(
        "day",
        "cents",
        (
            F.col("cents")
            - F.greatest(
                F.coalesce(F.col("min_left"), F.col("cents")),
                F.coalesce(F.col("min_right"), F.col("cents")),
            )
        )
        .cast("bigint")
        .alias("prominence_cents"),
    )


@register(
    "window_hampel_filter",
    tags=("window", "temporal", "quality"),
    oracle="""
WITH fr AS (
  SELECT event_id, user_id, value,
         list_sort(list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
  FROM events
), m AS (
  SELECT *,
         CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2]
              ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2e0
         END AS med
  FROM fr
), d AS (
  SELECT *, list_sort(list_transform(arr, v -> abs(v - med))) AS dev FROM m
), m2 AS (
  SELECT *,
         CASE WHEN len(dev) % 2 = 1 THEN dev[(len(dev) + 1) // 2]
              ELSE (dev[len(dev) // 2] + dev[len(dev) // 2 + 1]) / 2e0
         END AS mad
  FROM d
)
SELECT event_id, user_id,
       round(med, 6) AS med7,
       round(mad, 6) AS mad7,
       CASE WHEN mad > 0e0 AND abs(value - med) > 3e0 * 1.4826e0 * mad
            THEN 1 ELSE 0 END AS is_outlier,
       round(CASE WHEN mad > 0e0 AND abs(value - med) > 3e0 * 1.4826e0 * mad
                  THEN med ELSE value END, 6) AS repaired
FROM m2
""",
)
def window_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel identifier over a centered 7-point window: rolling median,
    rolling MAD (median absolute deviation from THAT median), flag
    |x - med| > 3 * 1.4826 * MAD, and repair flagged points to the
    median — the standard robust time-series despiker (Pearson 2002),
    and the data-cleaning complement to [[window_rolling_median]]
    (which smooths everything) and [[profile_anomaly_mad]] (global MAD,
    no locality). The MAD needs the median of deviations FROM the
    frame's own median — a two-level nested window no SQL aggregate
    expresses — so both engines materialize the bounded 7-value frame
    as a sorted array and take middles (k=7 caps per-row state; this is
    NOT the unbounded collect_list anti-pattern). mad=0 frames
    (constant windows) are defined as non-outliers rather than
    dividing. Identical double arithmetic both sides — the flag
    comparison is bit-deterministic.

    Scale: one exchange on user_id (the partition key), O(k log k) JVM
    array work per row, no second shuffle for the MAD level."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 3)

    def middle(arr):
        n = F.size(arr)
        odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        ) / 2
        return F.when(n % 2 == 1, odd).otherwise(even)

    fr = ev.select(
        "event_id",
        "user_id",
        "value",
        F.array_sort(F.collect_list("value").over(w)).alias("arr"),
    )
    m = fr.select("*", middle(F.col("arr")).alias("med"))
    d = m.select(
        "*",
        F.array_sort(
            F.transform(F.col("arr"), lambda v: F.abs(v - F.col("med")))
        ).alias("dev"),
    )
    m2 = d.select("*", middle(F.col("dev")).alias("mad"))
    hit = (F.col("mad") > 0.0) & (
        F.abs(F.col("value") - F.col("med")) > 3.0 * 1.4826 * F.col("mad")
    )
    return m2.select(
        "event_id",
        "user_id",
        F.round("med", 6).alias("med7"),
        F.round("mad", 6).alias("mad7"),
        F.when(hit, 1).otherwise(0).alias("is_outlier"),
        F.round(F.when(hit, F.col("med")).otherwise(F.col("value")), 6).alias(
            "repaired"
        ),
    )


CLAMP_CAP = 500  # stock capacity per supplier
CLAMP_START = 250  # opening balance


@register(
    "window_clamped_cumsum",
    tags=("window", "temporal"),
    oracle=f"""
WITH flow AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CASE WHEN l_linenumber % 2 = 0 THEN CAST(l_quantity AS BIGINT)
                       ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS net
  FROM lineitem GROUP BY 1, 2
), folded AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(net) AS BIGINT) AS net_total,
         list_reduce(
           list_prepend(CAST({CLAMP_START} AS BIGINT),
                        list(net ORDER BY day)),
           (acc, x) -> CASE
             WHEN acc % 1000000 + x < 0
               THEN acc - acc % 1000000 + 10000000000000
             WHEN acc % 1000000 + x > {CLAMP_CAP}
               THEN acc - acc % 1000000 + {CLAMP_CAP} + 1000000000
             ELSE acc + x END) AS state
  FROM flow GROUP BY l_suppkey
)
SELECT l_suppkey, n_days, net_total,
       state % 1000000 AS final_balance,
       (state // 10000000000000) % 10000000 AS clamped_low,
       (state // 1000000000) % 10000 AS clamped_high,
       CASE WHEN (state // 1000000000) % 10000 = 0
             AND (state // 10000000000000) % 10000000 = 0
            THEN 1 ELSE 0 END AS never_clamped
FROM folded
""",
)
def window_clamped_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance — warehouse stock per supplier folding
    daily net flow (even line numbers receive, odd issue) from an
    opening {CLAMP_START} into the band [0, {CLAMP_CAP}]: the
    NON-LINEAR cumulative sum (max(0, min(cap, ...)) at every step)
    that no window frame expresses, because each step's clamp depends
    on the already-clamped previous state — the same
    sequential-dependence class as [[temporal_kalman_local_level]],
    folded the same way: a single-BIGINT state machine
    (lo_hits*1e13 + hi_hits*1e9 + balance) over the day-ordered list,
    `F.aggregate` on Spark, scalar `list_reduce` on DuckDB (scalar
    accumulators dodge the in-place-struct hazard
    [[temporal_holt_smoothing]] pins). Clamp-hit counters ride in the
    upper digits, so the output also says WHICH suppliers starve
    (clamped_low: lost issues) or overflow (clamped_high: refused
    receipts) — the answer inventory planners actually want from the
    fold.

    Scale: one exchange to the (supplier, day) grain with map-side
    combine; each supplier's fold is bounded by the FIXED date span
    (more data widens the flow grain's values, never the list), and
    suppliers fold in parallel across partitions."""
    flow = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey", F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("l_linenumber") % 2 == 0,
                    F.col("l_quantity").cast("bigint"),
                ).otherwise(-F.col("l_quantity").cast("bigint"))
            )
            .cast("bigint")
            .alias("net")
        )
    )
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "net"))), lambda s: s["net"]
        ),
        F.lit(CLAMP_START).cast("bigint"),
        lambda acc, x: F.when(
            acc % 1000000 + x < 0, acc - acc % 1000000 + 10000000000000
        )
        .when(
            acc % 1000000 + x > CLAMP_CAP,
            acc - acc % 1000000 + CLAMP_CAP + 1000000000,
        )
        .otherwise(acc + x),
    )
    folded = flow.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("net").cast("bigint").alias("net_total"),
        fold.cast("bigint").alias("state"),
    )
    # Exact integer division (`div`), not float `/`+cast: once state
    # exceeds 2^53 the float quotient can round below the integer and
    # truncate to counter-1, diverging from the oracle's `//`
    # (ADVICE r5).
    lo = F.expr("state div 10000000000000") % 10000000
    hi = F.expr("state div 1000000000") % 10000
    return folded.select(
        "l_suppkey",
        "n_days",
        "net_total",
        (F.col("state") % 1000000).alias("final_balance"),
        lo.alias("clamped_low"),
        hi.alias("clamped_high"),
        F.when((hi == 0) & (lo == 0), 1).otherwise(0).alias("never_clamped"),
    )
