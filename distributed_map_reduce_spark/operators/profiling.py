"""Data-profiling operators: dataset cards and distribution-anomaly
detection — the observability layer of a training-data pipeline.

Shape at 100 TB: both queries are single-pass aggregations. The dataset
card is a hash-agg keyed by `source` (cardinality = number of corpora, a
few thousand at most, so the reduce side is trivially small); the outlier
scan computes per-type moments in one pass, broadcasts the tiny moment
table (one row per event type) back over the stream, and re-aggregates —
never a window over an unbounded partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_sql
from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table


@register(
    "profile_dataset_card",
    tags=("profiling", "text"),
    oracle="""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT text) AS n_distinct_texts,
       round(avg(n_chars), 4) AS avg_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       round(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
           AS short_frac
FROM documents
GROUP BY source
""",
)
def profile_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: doc counts, language spread, exact-text
    cardinality, char-length distribution, short-doc fraction.

    The 'model card for data' summary a curation run publishes per
    upstream corpus. One hash-aggregate; the two DISTINCT aggregates
    expand the input 2x map-side but the shuffle stays keyed by source.
    """
    docs = load_table(spark, sf_dir, "documents")
    short = F.when(F.col("n_chars") < 100, 1).otherwise(0)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(short).cast("long").alias("n_short"),
        F.round(F.sum(short) / F.count(F.lit(1)), 4).alias("short_frac"),
    )


@register(
    "profile_value_outliers",
    tags=("profiling", "stats"),
    oracle="""
WITH moments AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_pop(value) AS sigma,
         count(*) AS n_events
  FROM events GROUP BY event_type
), scored AS (
  SELECT e.event_type, m.n_events,
         abs(e.value - m.mu) / m.sigma AS abs_z
  FROM events e JOIN moments m USING (event_type)
)
SELECT event_type, n_events,
       CAST(sum(CASE WHEN abs_z > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(sum(CASE WHEN abs_z > 2.5 THEN 1 ELSE 0 END) * 1.0 / n_events, 4)
           AS outlier_frac,
       round(max(abs_z), 4) AS max_abs_z
FROM scored
GROUP BY event_type, n_events
""",
)
def profile_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift alarm: per event type, fraction of values more
    than 2.5 population-sigma from the mean, plus the worst offender.

    Two-pass, not a window: pass 1 reduces the stream to one moment row
    per type; that table (cardinality = #types) broadcasts back over the
    full scan, so no partition ever holds a whole type's data — a
    window-over-type formulation would serialize each type onto one task.
    """
    ev = load_table(spark, sf_dir, "events")
    moments = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
        F.count(F.lit(1)).alias("n_events"),
    )
    scored = ev.join(F.broadcast(moments), "event_type").select(
        "event_type",
        "n_events",
        (F.abs(F.col("value") - F.col("mu")) / F.col("sigma")).alias("abs_z"),
    )
    is_out = F.when(F.col("abs_z") > 2.5, 1).otherwise(0)
    return scored.groupBy("event_type", "n_events").agg(
        F.sum(is_out).cast("long").alias("n_outliers"),
        F.round(F.sum(is_out) / F.col("n_events"), 4).alias("outlier_frac"),
        F.round(F.max("abs_z"), 4).alias("max_abs_z"),
    )


@register(
    "profile_anomaly_mad",
    tags=("profiling", "temporal"),
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(sum(value), 4) AS v
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         quantile_cont(v, 0.5) AS med
  FROM hourly GROUP BY 1
), d AS (
  SELECT h.event_type, h.bucket, h.v, m.med,
         abs(h.v - m.med) AS dev
  FROM hourly h JOIN m ON h.event_type = m.event_type
), mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1
)
SELECT d.event_type, d.bucket,
       round(d.v, 4) AS hourly_value,
       round(d.med, 4) AS median_value,
       round(mad.mad, 4) AS mad
FROM d JOIN mad ON d.event_type = mad.event_type
WHERE d.dev > 5 * mad.mad
""",
)
def profile_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flags: hourly value-sums more than 5 MADs from
    their event type's median — the outlier alarm that, unlike the
    z-score version (`profile_value_outliers`), a burst cannot poison,
    because median and MAD are themselves robust to the anomalies they
    hunt.

    Two tiny keyed aggregates over the hours-cardinality frame (median,
    then MAD of deviations) broadcast back onto it; the raw fact table
    is touched once by the hourly rollup. Hourly sums round at 4dp
    BEFORE the medians so both engines interpolate identical doubles.
    At 100 TB swap the exact medians for approx_percentile — the query
    shape is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    d = hourly.join(med, "event_type").withColumn(
        "dev", F.abs(F.col("v") - F.col("med"))
    )
    mad = d.groupBy(F.col("event_type").alias("m_type")).agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return (
        d.join(mad, d.event_type == mad.m_type)
        .filter(F.col("dev") > 5 * F.col("mad"))
        .select(
            "event_type",
            "bucket",
            F.round("v", 4).alias("hourly_value"),
            F.round("med", 4).alias("median_value"),
            F.round("mad", 4).alias("mad"),
        )
    )


@register(
    "profile_partition_skew",
    tags=("profiling", "skew"),
    oracle="""
WITH freq AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_rows,
       round(avg(c), 6) AS avg_rows,
       round(quantile_cont(c, 0.99), 4) AS p99_rows,
       round(max(c) / avg(c), 4) AS skew_ratio,
       CAST(min(user_id) FILTER (WHERE c = (SELECT max(c) FROM freq)) AS BIGINT)
         AS heaviest_key
FROM freq
""",
)
def profile_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic: the per-key row-count
    distribution for a prospective shuffle key (events.user_id) —
    max/avg ratio, p99, and the heaviest key. This is the planning probe
    run BEFORE keying a 100 TB shuffle: ratio near 1 → hash partitioning
    is safe; a hot ratio → pre-salt (join_salted_skew / agg_salted_skew)
    or isolate the heavy hitters. One exact count agg to key
    cardinality, then a single-row summary; nothing touches the fact
    table twice."""
    ev = load_table(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    summary = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_rows"),
        F.round(F.avg("c"), 6).alias("avg_rows"),
        F.round(F.expr("percentile(c, 0.99)"), 4).alias("p99_rows"),
        F.round(F.max("c") / F.avg("c"), 4).alias("skew_ratio"),
    )
    mx = freq.agg(F.max("c").alias("mxc"))
    heavy = (
        freq.join(mx, freq.c == mx.mxc)
        .agg(F.min("user_id").cast("bigint").alias("heaviest_key"))
    )
    return summary.crossJoin(heavy)


@register(
    "profile_observed_metrics",
    tags=("profiling", "observability"),
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 2) AS total_value,
       CAST(count(*) FILTER (WHERE value < 0) AS BIGINT) AS n_negative,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases
FROM events
""",
)
def profile_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight QC metrics via the Observation API: metrics attach to a
    flowing DataFrame with `df.observe(...)` and are collected as a
    side-product of the SAME action — at 100 TB this is how a pipeline
    stage asserts row counts / null rates / value bounds WITHOUT a
    second scan of the input. Here the observed payload is surfaced as
    the query result (one driver-built row) so the oracle can verify
    the observed numbers equal a direct aggregation."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("qc")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count_if(F.col("value") < 0).cast("bigint").alias("n_negative"),
        # DISTINCT aggregates are disallowed in observed metrics
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("n_purchases"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the real action
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_value"], m["n_negative"], m["n_purchases"])],
        "n_rows bigint, total_value double, n_negative bigint, n_purchases bigint",
    )


@register(
    "profile_expectations",
    tags=("profiling", "quality"),
    oracle="""
SELECT 'orders_fk_customer' AS check_name,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT) AS n_violations
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem_qty_range',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'customer_key_unique',
       CAST(count(*) AS BIGINT),
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
FROM customer
UNION ALL
SELECT 'events_value_nonnegative',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE value < 0) AS BIGINT)
FROM events
UNION ALL
SELECT 'documents_text_nonempty',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE text IS NULL OR length(text) = 0) AS BIGINT)
FROM documents
""",
)
def profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Great-Expectations
    / dbt-test shape): referential integrity, range, uniqueness,
    non-negativity, and non-emptiness checks, each reported as
    (check_name, n_checked, n_violations) in ONE result so a pipeline
    gate reads a single small frame.

    Scale shape: each check is a scan-local aggregate (the FK check is
    one left join that AQE broadcasts while customer fits, shuffles
    after); the union is of 1-row frames, so cost = sum of the
    individual scans with no cross-check shuffle. At 100 TB you run
    this as `df.observe` metrics on the write path instead
    (`profile_observed_metrics`) — this form is the retrospective
    audit."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    fk = (
        orders.join(
            cust.select("c_custkey"), orders.o_custkey == cust.c_custkey, "left"
        )
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.count_if(F.col("c_custkey").isNull()).alias("n_violations"),
        )
        .select(F.lit("orders_fk_customer").alias("check_name"), "n_checked", "n_violations")
    )
    qty = li.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.count_if((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "n_violations"
        ),
    ).select(F.lit("lineitem_qty_range").alias("check_name"), "n_checked", "n_violations")
    uniq = cust.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("n_violations"),
    ).select(F.lit("customer_key_unique").alias("check_name"), "n_checked", "n_violations")
    nonneg = ev.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.count_if(F.col("value") < 0).alias("n_violations"),
    ).select(
        F.lit("events_value_nonnegative").alias("check_name"), "n_checked", "n_violations"
    )
    nonempty = docs.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.count_if(F.col("text").isNull() | (F.length("text") == 0)).alias(
            "n_violations"
        ),
    ).select(
        F.lit("documents_text_nonempty").alias("check_name"), "n_checked", "n_violations"
    )
    return fk.unionByName(qty).unionByName(uniq).unionByName(nonneg).unionByName(nonempty)


@register(
    "profile_bot_detection",
    tags=("profiling", "events", "quality"),
    oracle="""
WITH gaps AS (
  SELECT user_id,
         CAST(date_diff('microsecond',
              lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id),
              CAST(ts AS TIMESTAMP)) // 1000 AS BIGINT) AS gap_ms
  FROM events
), stats AS (
  SELECT user_id,
         CAST(count(*) + 1 AS BIGINT) AS n_events,
         CAST(floor(median(gap_ms)) AS BIGINT) AS median_gap_ms,
         CAST(min(gap_ms) AS BIGINT) AS min_gap_ms
  FROM gaps WHERE gap_ms IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_events, median_gap_ms, min_gap_ms,
       CASE WHEN median_gap_ms < 60000 AND n_events >= 50 THEN 1 ELSE 0 END
         AS bot_flag
FROM stats
""",
)
def profile_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation/bot heuristic over event cadence: per user, the median
    and minimum inter-arrival gap; accounts firing faster than one event
    per minute at volume get flagged — the traffic-cleaning gate a
    training pipeline runs before user-generated text enters the corpus
    (bots produce exactly the templated near-dup mass the dedup tier
    then has to pay for).

    One exchange on user_id feeds the lag window; the per-user stats
    frame is user-cardinality. The median over gaps is exact per user —
    fine while per-user event counts fit a partition (true by
    definition of a per-user stream); the approx twin swaps in
    percentile_approx unchanged. Gap is integer MILLISECONDS via
    floor(µs-diff / 1000) on BOTH engines — DuckDB's
    date_diff('millisecond') counts boundary CROSSINGS (floor(t2/1000) −
    floor(t1/1000) ≠ floor((t2−t1)/1000)) and its double→BIGINT cast
    ROUNDS where Spark truncates, so both the gap and the interpolated
    .5 median go through explicit floor."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.floor(
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))) / 1000
    )
    gaps = ev.select("user_id", gap_ms.alias("gap_ms")).filter(
        F.col("gap_ms").isNotNull()
    )
    stats = gaps.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).alias("n_events"),
        F.floor(F.expr("median(gap_ms)")).alias("median_gap_ms"),
        F.min("gap_ms").alias("min_gap_ms"),
    )
    return stats.select(
        "user_id",
        "n_events",
        "median_gap_ms",
        "min_gap_ms",
        F.when(
            (F.col("median_gap_ms") < 60000) & (F.col("n_events") >= 50), 1
        )
        .otherwise(0)
        .alias("bot_flag"),
    )


@register(
    "repair_median_impute",
    tags=("profiling", "repair"),
    oracle=f"""
WITH dirty AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE {to_cents_sql("o_totalprice")} END AS cents
  FROM orders
), med AS (
  SELECT o_orderpriority,
         CAST(floor(median(cents)) AS BIGINT) AS med_cents
  FROM dirty WHERE cents IS NOT NULL GROUP BY o_orderpriority
)
SELECT d.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE d.cents IS NULL) AS BIGINT) AS n_imputed,
       m.med_cents AS imputed_value,
       CAST(sum(coalesce(d.cents, m.med_cents)) AS BIGINT) AS total_after_impute
FROM dirty d JOIN med m ON m.o_orderpriority = d.o_orderpriority
GROUP BY d.o_orderpriority, m.med_cents
""",
)
def repair_median_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data repair by grouped-median imputation: nulls (injected
    deterministically — every 7th order loses its price, simulating an
    upstream extractor fault) are filled with their GROUP's median, the
    robust choice when distributions differ per segment (a global mean
    would bleed '1-URGENT' prices into '5-LOW' rows). The imputed value
    is floored to integer cents so both engines agree exactly, and the
    report carries the audit columns a repair pass must ship: how many
    rows were touched, with what value, and the post-repair total.

    Plan: one grouped median over the non-null rows (group-cardinality
    output, broadcast back over the scan) + one aggregation — the
    moment-table-join shape `pipeline_feature_scaling` uses, never a
    per-row window. At 100 TB the imputation itself is a map-side
    coalesce against the broadcast medians."""
    o = load_table(spark, sf_dir, "orders")
    dirty = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            to_cents("o_totalprice")
        ).alias("cents"),
    )
    med = (
        dirty.filter(F.col("cents").isNotNull())
        .groupBy("o_orderpriority")
        .agg(
            F.floor(F.expr("percentile(cents, 0.5)")).cast("bigint").alias("med_cents")
        )
    )
    return (
        dirty.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority", "med_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_if(F.col("cents").isNull()).cast("bigint").alias("n_imputed"),
            F.sum(F.coalesce(F.col("cents"), F.col("med_cents")))
            .cast("bigint")
            .alias("total_after_impute"),
        )
        .select(
            "o_orderpriority",
            "n_rows",
            "n_imputed",
            F.col("med_cents").alias("imputed_value"),
            "total_after_impute",
        )
    )


@register(
    "er_record_linkage",
    tags=("profiling", "dedup", "linkage"),
    oracle="""
WITH clean AS (
  SELECT c_custkey, c_nationkey, upper(c_name) AS name FROM customer
), dirty AS (
  SELECT c_custkey AS d_key, c_nationkey AS d_nat,
         CASE WHEN c_custkey % 4 = 0
              THEN substr(upper(c_name), 1, length(c_name) - 1) || 'X'
              ELSE upper(c_name) END AS d_name
  FROM customer
), cand AS (
  SELECT c.c_custkey, d.d_key,
         CAST(levenshtein(c.name, d.d_name) AS BIGINT) AS dist
  FROM clean c JOIN dirty d
    ON c.c_nationkey = d.d_nat
   AND substr(c.name, 1, length(c.name) - 1)
       = substr(d.d_name, 1, length(d.d_name) - 1)
  WHERE levenshtein(c.name, d.d_name) <= 2
), best AS (
  SELECT c_custkey, d_key, dist,
         row_number() OVER (PARTITION BY d_key ORDER BY dist, c_custkey) AS rn
  FROM cand
)
SELECT CAST(count(*) AS BIGINT) AS n_linked,
       CAST(count(*) FILTER (WHERE c_custkey = d_key) AS BIGINT) AS n_correct,
       CAST(count(*) FILTER (WHERE dist > 0) AS BIGINT) AS n_fuzzy,
       CAST((SELECT count(*) FROM dirty) AS BIGINT) AS n_records
FROM best WHERE rn = 1
""",
)
def er_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage across sources: a 'dirty'
    registry copy (every 4th name's last character corrupted —
    deterministic, so ground truth is the key itself) is linked back to
    the clean registry by BLOCKING on (nation, all-but-last-char name
    prefix) and verifying with Levenshtein <= 2, best match per dirty
    record (lowest distance, tie -> lowest key). The output is the
    linkage audit: how many records linked, how many to the RIGHT
    entity, and how many needed fuzzy (dist>0) matching.

    This is dedup's cross-SOURCE sibling (Fellegi-Sunter blocking +
    edit-distance comparison): the all-pairs comparison never runs —
    blocking keys equi-join (one shuffle), the quadratic kernel touches
    only within-block pairs.

    SCALE LESSON (caught by the r5 sf1 sweep): the original block key
    was the 9-char name prefix — which in TPC-H is the CONSTANT string
    'CUSTOMER#', so blocks silently degenerated to nation-only (25
    blocks) and the within-block kernel went quadratic: ~900M
    Levenshtein pairs at sf1, query killed after 8 minutes. A block key
    must be both CORRUPTION-INVARIANT and REFINING; all-but-last-char
    is invariant to the last-char corruption by construction and
    refines blocks to the <=10-record last-digit family, so candidates
    are ~10 per record at any SF. The per-record winner is provably
    unchanged: every best match has dist <= 1 and therefore shares the
    all-but-last prefix (the old wider blocking only ever added
    dist-2 losers). Same bounded-key-space failure class as the
    [[dedup_edit_distance_block]] rewrite."""
    cust = load_table(spark, sf_dir, "customer")
    clean = cust.select(
        "c_custkey", "c_nationkey", F.upper("c_name").alias("name")
    )
    dirty = cust.select(
        F.col("c_custkey").alias("d_key"),
        F.col("c_nationkey").alias("d_nat"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.concat(
                F.expr("substr(upper(c_name), 1, length(c_name) - 1)"), F.lit("X")
            ),
        )
        .otherwise(F.upper("c_name"))
        .alias("d_name"),
    )
    cand = (
        clean.join(
            dirty,
            (F.col("c_nationkey") == F.col("d_nat"))
            & (
                F.expr("substr(name, 1, length(name) - 1)")
                == F.expr("substr(d_name, 1, length(d_name) - 1)")
            ),
        )
        .withColumn("dist", F.levenshtein("name", "d_name").cast("bigint"))
        .filter(F.col("dist") <= 2)
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("d_key").orderBy("dist", "c_custkey")
        ),
    ).filter(F.col("rn") == 1)
    n_records = dirty.agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    return (
        best.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_linked"),
            F.count_if(F.col("c_custkey") == F.col("d_key"))
            .cast("bigint")
            .alias("n_correct"),
            F.count_if(F.col("dist") > 0).cast("bigint").alias("n_fuzzy"),
        )
        .crossJoin(F.broadcast(n_records))
    )


@register(
    "profile_freshness_audit",
    tags=("profiling", "ops"),
    oracle="""
WITH g AS (
  SELECT max(ts) AS gmax FROM events
), per AS (
  SELECT event_type,
         max(ts) AS last_ts,
         count(*) AS n_events
  FROM events GROUP BY event_type
)
SELECT p.event_type,
       CAST(p.n_events AS BIGINT) AS n_events,
       p.last_ts,
       CAST(epoch_us(g.gmax) - epoch_us(p.last_ts) AS BIGINT) AS lag_us,
       CASE WHEN epoch_us(g.gmax) - epoch_us(p.last_ts) > 86400000000
            THEN 1 ELSE 0 END AS stale
FROM per p CROSS JOIN g
""",
)
def profile_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit: each event type's latest arrival vs
    the global high-water mark, exact µs lag, and a >1-day staleness
    flag — the first page of any ingestion-health dashboard (a feed
    that silently stopped shows up as monotonically growing lag, not as
    an error). Two tiny aggregates: per-type max is a hash agg whose
    reduce side is type-cardinality; the global max is the 1-row
    broadcast joined back. Lags are integer microsecond arithmetic
    (`unix_micros` / `epoch_us`) — no float time math anywhere."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("gmax"))
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_events")
    )
    lag = F.unix_micros("gmax") - F.unix_micros("last_ts")
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        "last_ts",
        lag.cast("bigint").alias("lag_us"),
        F.when(lag > 86_400_000_000, 1).otherwise(0).alias("stale"),
    )


@register(
    "profile_join_fanout",
    tags=("profiling", "joins"),
    oracle="""
WITH o_side AS (
  SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1
), l_side AS (
  SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1
)
SELECT 'customer->orders' AS fk_edge,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_fanout,
       round(avg(c), 4) AS avg_fanout,
       CAST(sum(CASE WHEN c > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
FROM o_side
UNION ALL
SELECT 'orders->lineitem',
       CAST(count(*) AS BIGINT),
       CAST(max(c) AS BIGINT),
       round(avg(c), 4),
       CAST(sum(CASE WHEN c > 50 THEN 1 ELSE 0 END) AS BIGINT)
FROM l_side
""",
)
def profile_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out triage: per FK edge, the key-multiplicity profile
    (max / avg fan-out, hot-key count) that predicts row explosion and
    shuffle skew BEFORE a join runs — the number a planner's ndv stats
    approximate and an engineer checks when a join output is 100x its
    inputs. max_fanout bounds the worst key's output contribution;
    n_hot_keys > 0 is the cue to salt (`join_salted_skew`) or AQE-skew
    the join. One count aggregate per edge over ids."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def edge(df, key, name):
        side = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        return side.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("c").cast("bigint").alias("max_fanout"),
            F.round(F.avg("c"), 4).alias("avg_fanout"),
            F.sum(F.when(F.col("c") > 50, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hot_keys"),
        )

    return edge(o, "o_custkey", "customer->orders").unionByName(
        edge(li, "l_orderkey", "orders->lineitem")
    )


@register(
    "profile_clock_skew_audit",
    tags=("profiling", "ops", "temporal"),
    oracle=f"""
WITH ingest AS (
  -- simulated arrival order: md5 jitter shifts each event a few slots
  -- (buffered producers interleave), so the audit has real inversions
  SELECT user_id, ts, event_id,
         event_id * 8 + {md5_int_sql("CAST(event_id AS VARCHAR)", 2)} % 40
           AS ingest_seq
  FROM events
), seq AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ingest_seq, event_id) AS prev_ts
  FROM ingest
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (WHERE prev_ts IS NOT NULL AND ts < prev_ts) AS BIGINT)
           AS n_inversions,
       CAST(coalesce(max(CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts
                              THEN epoch_us(prev_ts) - epoch_us(ts) END), 0) AS BIGINT)
           AS max_skew_us
FROM seq
GROUP BY user_id
HAVING count(*) FILTER (WHERE prev_ts IS NOT NULL AND ts < prev_ts) > 0
""",
)
def profile_clock_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clock-skew / out-of-order telemetry audit: events whose ingestion
    order (event_id) runs FORWARD while their event time runs BACKWARD
    are clock drift, retry reordering, or buffered batch flushes — the
    pathology that silently corrupts every event-time window and
    sessionization downstream (`events_late_data_audit` measures
    lateness vs watermark; this measures internal per-producer
    inversions). The fixture's event_id order IS its ts order, so the
    arrival sequence is md5-jittered a few slots (buffered producers
    interleave) — the perturbation every real feed exhibits and the
    audit exists to catch. One lag window per user ordered by the
    arrival key, integer-µs skew magnitudes; only offending users emit
    rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    jitter = md5_int(F.col("event_id").cast("string"), 2) % 40
    ingest = ev.withColumn("ingest_seq", F.col("event_id") * 8 + jitter)
    w = Window.partitionBy("user_id").orderBy("ingest_seq", "event_id")
    seq = ingest.withColumn("prev_ts", F.lag("ts").over(w))
    inv = F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts"))
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count(F.when(inv, 1)).cast("bigint").alias("n_inversions"),
            F.coalesce(
                F.max(
                    F.when(
                        inv, F.unix_micros("prev_ts") - F.unix_micros("ts")
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("max_skew_us"),
        )
        .filter(F.col("n_inversions") > 0)
    )


@register(
    "profile_key_discovery",
    tags=("profiling",),
    oracle="""
WITH cand AS (
  SELECT 'orders.o_orderkey' AS col,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null
  FROM orders
  UNION ALL
  SELECT 'orders.o_custkey', count(*), count(DISTINCT o_custkey),
         count(*) - count(o_custkey) FROM orders
  UNION ALL
  SELECT 'lineitem.l_orderkey', count(*), count(DISTINCT l_orderkey),
         count(*) - count(l_orderkey) FROM lineitem
  UNION ALL
  SELECT 'customer.c_custkey', count(*), count(DISTINCT c_custkey),
         count(*) - count(c_custkey) FROM customer
  UNION ALL
  SELECT 'events.user_id', count(*), count(DISTINCT user_id),
         count(*) - count(user_id) FROM events
), fk AS (
  SELECT 'orders.o_custkey->customer.c_custkey' AS rel,
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) o
          WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS n_contained,
         (SELECT count(DISTINCT o_custkey) FROM orders) AS n_values
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders.o_orderkey',
         (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
          WHERE l_orderkey IN (SELECT o_orderkey FROM orders)),
         (SELECT count(DISTINCT l_orderkey) FROM lineitem)
)
SELECT col AS object, 'uniqueness' AS probe,
       n_rows AS denom,
       n_distinct AS numer,
       round(n_distinct * 1e0 / n_rows, 6) AS ratio,
       CASE WHEN n_distinct = n_rows AND n_null = 0 THEN 1 ELSE 0 END AS verdict
FROM cand
UNION ALL
SELECT rel, 'fk_containment',
       CAST(n_values AS BIGINT),
       CAST(n_contained AS BIGINT),
       round(n_contained * 1e0 / n_values, 6),
       CASE WHEN n_contained = n_values THEN 1 ELSE 0 END
FROM fk
""",
)
def profile_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key and foreign-key DISCOVERY — the schema-inference
    probe a catalog crawler runs on undocumented tables: per candidate
    column, the uniqueness ratio distinct/rows with a verdict flag
    (1 = perfect key: fully distinct, no nulls); per candidate
    relationship, the inclusion-dependency containment |distinct(A) in
    B| / |distinct(A)| (1 = valid FK). This is how [[profile_join_fanout]]'s
    join plan gets its keys when nobody wrote them down (Papenbrock's
    HyFD/inclusion-dependency line of work, reduced to the two probes
    that matter). Each probe is one distinct-agg or one ids-only
    left-semi join; nothing carries payload columns. Output is
    probe-cardinality (7 rows) forever."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")

    def uniq(df, table, col):
        return df.agg(
            F.lit(f"{table}.{col}").alias("object"),
            F.lit("uniqueness").alias("probe"),
            F.count(F.lit(1)).cast("bigint").alias("denom"),
            F.countDistinct(col).cast("bigint").alias("numer"),
            F.round(F.countDistinct(col) * 1.0 / F.count(F.lit(1)), 6).alias("ratio"),
            F.when(
                (F.countDistinct(col) == F.count(F.lit(1)))
                & (F.count(col) == F.count(F.lit(1))),
                1,
            ).otherwise(0).alias("verdict"),
        )

    def containment(child, child_col, parent, parent_col, rel):
        vals = child.select(child_col).distinct()
        contained = vals.join(
            parent.select(F.col(parent_col).alias(child_col)).distinct(),
            child_col,
            "left_semi",
        )
        return (
            vals.agg(F.count(F.lit(1)).cast("bigint").alias("denom"))
            .crossJoin(contained.agg(F.count(F.lit(1)).cast("bigint").alias("numer")))
            .select(
                F.lit(rel).alias("object"),
                F.lit("fk_containment").alias("probe"),
                "denom",
                "numer",
                F.round(F.col("numer") * 1.0 / F.col("denom"), 6).alias("ratio"),
                F.when(F.col("numer") == F.col("denom"), 1).otherwise(0).alias(
                    "verdict"
                ),
            )
        )

    parts = [
        uniq(o, "orders", "o_orderkey"),
        uniq(o, "orders", "o_custkey"),
        uniq(li, "lineitem", "l_orderkey"),
        uniq(c, "customer", "c_custkey"),
        uniq(ev, "events", "user_id"),
        containment(o, "o_custkey", c, "c_custkey",
                    "orders.o_custkey->customer.c_custkey"),
        containment(li, "l_orderkey", o, "o_orderkey",
                    "lineitem.l_orderkey->orders.o_orderkey"),
    ]
    out = parts[0]
    for df_ in parts[1:]:
        out = out.unionByName(df_)
    return out


@register(
    "profile_schema_drift",
    tags=("profile", "quality"),
    oracle="""
WITH old_half AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
), new_half AS (
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
), prof_old AS (
  SELECT CAST(count(*) AS BIGINT) AS row_count,
         coalesce(round(avg(o_totalprice), 4), 0e0) AS price_mean,
         CASE WHEN count(*) > 0
              THEN round(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                         * 1e0 / count(*), 6)
              ELSE 0e0 END AS price_null_frac,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_ndv,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS priority_ndv,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS custkey_ndv
  FROM old_half
), prof_new AS (
  SELECT CAST(count(*) AS BIGINT) AS row_count,
         coalesce(round(avg(o_totalprice), 4), 0e0) AS price_mean,
         CASE WHEN count(*) > 0
              THEN round(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                         * 1e0 / count(*), 6)
              ELSE 0e0 END AS price_null_frac,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_ndv,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS priority_ndv,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS custkey_ndv
  FROM new_half
), unp AS (
  SELECT m.metric,
         CASE m.metric
           WHEN 'row_count' THEN o.row_count * 1e0
           WHEN 'price_mean' THEN o.price_mean
           WHEN 'price_null_frac' THEN o.price_null_frac
           WHEN 'status_ndv' THEN o.status_ndv * 1e0
           WHEN 'priority_ndv' THEN o.priority_ndv * 1e0
           ELSE o.custkey_ndv * 1e0 END AS val_old,
         CASE m.metric
           WHEN 'row_count' THEN n.row_count * 1e0
           WHEN 'price_mean' THEN n.price_mean
           WHEN 'price_null_frac' THEN n.price_null_frac
           WHEN 'status_ndv' THEN n.status_ndv * 1e0
           WHEN 'priority_ndv' THEN n.priority_ndv * 1e0
           ELSE n.custkey_ndv * 1e0 END AS val_new
  FROM (SELECT unnest(['row_count', 'price_mean', 'price_null_frac',
                       'status_ndv', 'priority_ndv', 'custkey_ndv'])
          AS metric) m
  CROSS JOIN prof_old o CROSS JOIN prof_new n
)
SELECT metric, val_old, val_new,
       round(CASE WHEN val_old <> 0e0 THEN (val_new - val_old) / val_old
                  ELSE 0e0 END, 6) AS rel_change,
       CASE WHEN val_old <> 0e0
             AND abs((val_new - val_old) / val_old) > 0.1e0 THEN 1
            WHEN val_old = 0e0 AND val_new <> 0e0 THEN 1
            ELSE 0 END AS drifted
FROM unp
""",
)
def profile_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-snapshot profile drift: the same six column-level
    statistics (row count, price mean + null fraction, three exact
    NDVs) computed over the pre- and post-1995 halves of orders, then
    unpivoted into one (metric, old, new, rel_change, drifted) sheet
    with a 10% relative-change alarm — the ingest-gate companion to
    [[stats_psi_drift]] (PSI reads one column's DISTRIBUTION; this
    reads the table's SHAPE: cardinalities, null discipline, volume).
    A zero-old baseline with nonzero new flags explicitly instead of
    dividing by zero (the r4 guard class).

    Scale: each half profiles in ONE pass (count/avg/null-frac and
    multi-distinct in the same agg — Catalyst expands the distincts);
    the unpivot + comparison is 6-row literal algebra. Snapshots at
    100 TB profile independently and meet at 6 rows."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")

    def prof(df):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("row_count"),
            F.coalesce(F.round(F.avg("o_totalprice"), 4), F.lit(0.0)).alias(
                "price_mean"
            ),
            # empty-snapshot guard (the r4 NULL-propagation class): an
            # empty half profiles as 0.0, not NULL
            F.when(
                F.count(F.lit(1)) > 0,
                F.round(
                    F.sum(
                        F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)
                    )
                    * 1.0
                    / F.count(F.lit(1)),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("price_null_frac"),
            F.countDistinct("o_orderstatus").cast("bigint").alias("status_ndv"),
            F.countDistinct("o_orderpriority")
            .cast("bigint")
            .alias("priority_ndv"),
            F.countDistinct("o_custkey").cast("bigint").alias("custkey_ndv"),
        )

    po = prof(o.filter(F.col("o_orderdate") < cutoff))
    pn = prof(o.filter(F.col("o_orderdate") >= cutoff))
    metrics = [
        "row_count",
        "price_mean",
        "price_null_frac",
        "status_ndv",
        "priority_ndv",
        "custkey_ndv",
    ]
    m = spark.createDataFrame([(x,) for x in metrics], ["metric"])

    def pick(side):
        c = F.col("metric")
        expr = F.col(f"{side}.custkey_ndv") * 1.0
        for name in ["row_count", "status_ndv", "priority_ndv"]:
            expr = F.when(c == name, F.col(f"{side}.{name}") * 1.0).otherwise(expr)
        for name in ["price_mean", "price_null_frac"]:
            expr = F.when(c == name, F.col(f"{side}.{name}")).otherwise(expr)
        return expr

    unp = (
        m.crossJoin(F.broadcast(po.alias("o")))
        .crossJoin(F.broadcast(pn.alias("n")))
        .select(
            "metric",
            pick("o").alias("val_old"),
            pick("n").alias("val_new"),
        )
    )
    rel = (F.col("val_new") - F.col("val_old")) / F.col("val_old")
    return unp.select(
        "metric",
        "val_old",
        "val_new",
        F.round(
            F.when(F.col("val_old") != 0.0, rel).otherwise(0.0), 6
        ).alias("rel_change"),
        F.when((F.col("val_old") != 0.0) & (F.abs(rel) > 0.1), 1)
        .when((F.col("val_old") == 0.0) & (F.col("val_new") != 0.0), 1)
        .otherwise(0)
        .alias("drifted"),
    )
