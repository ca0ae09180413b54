"""Join surface: broadcast/sort-merge equi-joins, outer joins, semi/anti,
cross, band (equi + range) joins, and subquery forms.

Absent in the reference (SURVEY.md §2.3 — a join would be a hand-written
map emitting join keys + a reduce pairing rows); here every variant is a
declarative plan so Catalyst picks the physical strategy.

Scale posture: dimension tables (region/nation/customer/supplier/part)
are broadcast — at 100 TB the fact side streams through map-side hash
joins with zero shuffle of the big side; only fact⋈fact joins (lineitem⋈
orders) sort-merge on the shuffled key, where AQE handles skew. Non-equi
predicates always ride on top of an equi key (band join), never as a raw
cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table, register_views
from ..sources.scratch import scratch_dir


@register(
    "join_revenue_by_nation",
    bench=True,
    tags=("join", "flagship"),
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_nationkey = c_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: one fact⋈fact sort-merge (lineitem⋈orders) plus a
    snowflake of dim joins. Only nation/region — fixed 25/5-row tables —
    carry broadcast hints; customer and supplier scale with SF, so a
    hardcoded broadcast is an OOM at 100 TB (VERDICT r2) — AQE picks
    broadcast at small SF and falls back to shuffle when they outgrow
    the threshold."""
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["lineitem"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["supplier"], (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "join_left_outer",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: customers kept with zero orders; count(col) skips nulls."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_full_outer",
    tags=("join",),
    oracle="""
WITH cust AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
     supp AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT coalesce(cust.nk, supp.nk) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER over two pre-aggregated sides (nations with customers
    but no suppliers and vice versa survive)."""
    c = load_table(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_cust"))
    s = load_table(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_supp"))
    return (
        c.join(s, c.nk == s.nk, "full_outer")
        .select(
            F.coalesce(c.nk, s.nk).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "join_semi",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 50000)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): probe side never duplicates, build side broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers who never placed an URGENT
    order (every fixture customer has SOME order, so the unrestricted
    form returns zero rows — a trivially-green check)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross",
    tags=("join",),
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross product — only ever between bounded dimensions
    (5×25 here); a guard pattern, not a scale path."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "join_band_range",
    tags=("join", "range"),
    oracle="""
SELECT l_orderkey, l_linenumber,
       datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS ship_lag_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate <  o_orderdate + INTERVAL 90 DAY
""",
)
def join_band_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: range predicate riding on an equi key — the scalable
    form of a non-equi join (the equi key partitions; the band filters)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.date_add(F.col("o_orderdate"), 60).cast("timestamp"))
            & (F.col("l_shipdate") < F.date_add(F.col("o_orderdate"), 90).cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")).alias("ship_lag_days"),
        )
    )


@register(
    "join_self",
    tags=("join",),
    oracle="""
SELECT a.p_brand AS p_brand, count(*) AS n_pairs
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey AND a.p_size = b.p_size
GROUP BY a.p_brand
""",
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: same-brand same-size part pairs (a<b dedupes mirror pairs)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.col("a.p_size") == F.col("b.p_size")),
        )
        .groupBy(F.col("a.p_brand").alias("p_brand"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_SUBQUERY_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
  AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
"""


@register("subquery_scalar_in", tags=("join", "subquery"), oracle=_SUBQUERY_SQL)
def subquery_scalar_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + IN-subquery (Catalyst rewrites to joins); same
    SQL text runs on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_SUBQUERY_SQL)


_CORR_EXISTS_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o.o_orderkey AND l_quantity > 45
)
"""


@register("subquery_correlated_exists", tags=("join", "subquery"), oracle=_CORR_EXISTS_SQL)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — decorrelated by Catalyst into a semi-join."""
    register_views(spark, sf_dir)
    return spark.sql(_CORR_EXISTS_SQL)


@register(
    "join_null_safe",
    tags=("join",),
    oracle="""
WITH a AS (
  SELECT o_orderkey, CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END AS st
  FROM orders WHERE o_orderkey <= 500
), b AS (
  SELECT DISTINCT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END AS st
  FROM orders
)
SELECT a.o_orderkey, a.st
FROM a JOIN b ON a.st IS NOT DISTINCT FROM b.st
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics dimension
    tables with unknown members need."""
    o = load_table(spark, sf_dir, "orders")
    st = F.when(F.col("o_orderstatus") == "O", F.lit(None)).otherwise(
        F.col("o_orderstatus")
    )
    a = o.filter(F.col("o_orderkey") <= 500).select("o_orderkey", st.alias("st"))
    b = o.select(st.alias("st_b")).distinct()
    return a.join(b, a.st.eqNullSafe(b.st_b)).select("o_orderkey", "st")


_NOT_IN_SQL = """
SELECT n_nationkey, n_name
FROM nation
WHERE n_nationkey NOT IN (
  SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_nationkey END
  FROM customer WHERE c_mktsegment = 'MACHINERY'
)
"""


@register("subquery_not_in_nulls", tags=("join", "subquery"), oracle=_NOT_IN_SQL)
def subquery_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN against a subquery that can yield NULL — the three-valued-
    logic trap (any NULL in the list empties the result). Catalyst plans
    a null-aware anti join; the same SQL text runs on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_NOT_IN_SQL)


@register(
    "join_lateral_topk",
    tags=("join", "sql", "lateral"),
    oracle="""
SELECT n.n_name, t.c_name, round(t.c_acctbal, 2) AS acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) t
""",
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: for each nation, its top-2 customers
    by balance — the per-row-subquery surface (Spark 4 LATERAL), planned
    by Catalyst as a rank-limited join rather than 25 separate scans.
    Same result as the window-rank formulation in `topk_per_group`; this
    registers the SQL-shape users port from Postgres/DuckDB verbatim."""
    register_views(spark, sf_dir)
    return spark.sql("""
SELECT n.n_name, t.c_name, round(t.c_acctbal, 2) AS acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) t
""")


@register(
    "cdc_incremental_join_agg",
    bench=True,
    tags=("join", "cdc", "incremental"),
    oracle=f"""
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""",
)
def cdc_incremental_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a join-aggregate: the standing
    result over the base batch merges with the DELTA batch's
    contribution — Δ(R ⋈ S → agg) = agg(merge(agg(R_base ⋈ S),
    agg(ΔR ⋈ S))) — without re-scanning the base fact. Orders with
    o_orderkey % 7 == 0 play the newly-arrived CDC batch; the oracle
    recomputes the join from scratch, so the hash match PROVES the
    delta-maintenance algebra equals full recomputation.

    The merge works because count/sum are commutative monoids over the
    group key; at 100 TB the base aggregate is a materialized table and
    only |Δ| rows join + shuffle per refresh (the continuous-aggregate /
    foreachBatch pattern in streaming/jobs.py uses the same algebra).
    Money is integer cents so base+delta addition is exact."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        to_cents("o_totalprice").alias("cents"),
        (F.col("o_orderkey") % 7 == 0).alias("is_delta"),
    )

    def part_agg(df: DataFrame) -> DataFrame:
        return (
            df.join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("total_cents"),
            )
        )

    base = part_agg(o.filter(~F.col("is_delta")))
    delta = part_agg(o.filter(F.col("is_delta")))
    return (
        base.unionByName(delta)
        .groupBy("c_nationkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )


@register(
    "join_interval_bucketed",
    tags=("join", "interval", "scale"),
    oracle="""
WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click'),
     p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase')
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       round(p.value, 2) AS purchase_value
FROM c JOIN p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via TIME-BUCKET blocking: clicks land in their hour
    bucket; each purchase replicates into its own and the previous hour
    bucket (any click within the trailing hour must sit in one of the
    two); the join is then a pure EQUI-join on (user, bucket) with the
    band as a residual filter.

    Same semantics as `events_click_to_purchase` (the oracle IS the
    plain interval join — the hash match proves the rewrite), different
    physical shape: when the band predicate's selectivity is poor or the
    per-user event rate is huge, the plain equi-join-on-user + residual
    filter materializes every same-user pair, while bucketing bounds
    pair fan-out to adjacent buckets — the standard rewrite for wide
    bands over high-rate keys at 100 TB (2× replication buys
    bucket-local pairing). Replication factor = band/bucket + 1."""
    ev = load_table(spark, sf_dir, "events")
    hour_bucket = (F.unix_seconds(F.col("ts")) / 3600).cast("bigint")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        hour_bucket.alias("bucket"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
        F.explode(
            F.array(hour_bucket, hour_bucket - 1)
        ).alias("bucket"),
    )
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (c["bucket"] == p["bucket"]),
        )
        .filter(
            (F.col("purchase_ts") > F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            )
        )
        .select(
            "click_id",
            "purchase_id",
            F.col("c_user").alias("user_id"),
            "purchase_value",
        )
    )


@register(
    "join_dynamic_partition_prune",
    tags=("join", "scale", "layout"),
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS revenue_cents
FROM orders
WHERE year(o_orderdate) % 3 = 0
GROUP BY 1
""",
)
def join_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is staged
    partitioned-by-year; the dimension side's predicate (year % 3 = 0)
    is only knowable after scanning the dim, yet Catalyst injects the
    dim's surviving keys as a runtime partition filter on the fact scan
    — untouched year directories are never read. This is the mechanism
    that makes star-schema joins over partitioned 100 TB fact tables
    feasible: I/O scales with the dim selectivity, not the fact size
    (`explain()` shows `dynamicpruning#...` in PartitionFilters;
    pinned by tests/test_round4_ops.py).

    The staging write itself is the standard layout prescription —
    partition the fact by the hot join/filter key. The dim here is
    derived from the raw table (years + a non-foldable predicate) so
    the prune really is dynamic, not constant-folded static pruning."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    staged = os.path.join(scratch_dir("dpp"), "orders_by_year")
    (
        orders.withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .write.partitionBy("o_year")
        .mode("overwrite")
        .parquet(staged)
    )
    fact = spark.read.parquet(staged)
    dim = (
        orders.select(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .distinct()
        .filter(F.col("o_year") % 3 == 0)
    )
    return (
        fact.join(F.broadcast(dim), "o_year")
        .groupBy(F.col("o_year").cast("bigint").alias("o_year"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(to_cents("o_totalprice"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


@register(
    "geo_grid_knn_join",
    tags=("join", "spatial"),
    oracle="""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 2654435761) % 120000000 - 60000000  AS lat,
         (c_custkey * 40503 + 7) * 48271 % 360000000 - 180000000 AS lon
  FROM customer
), cells AS (
  SELECT c_custkey, lat, lon,
         lat // 1000000 AS cx, lon // 1000000 AS cy
  FROM pts
), probes AS (
  SELECT c_custkey AS key_a, lat AS la, lon AS lo,
         cx + dx AS px, cy + dy AS py
  FROM cells
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx)
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy)
), cand AS (
  SELECT p.key_a, c.c_custkey AS key_b,
         CAST((p.la - c.lat) * (p.la - c.lat)
            + (p.lo - c.lon) * (p.lo - c.lon) AS BIGINT) AS dist2
  FROM probes p JOIN cells c ON c.cx = p.px AND c.cy = p.py
  WHERE p.key_a <> c.c_custkey
)
SELECT key_a, key_b, dist2, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY key_a ORDER BY dist2, key_b) AS rn
  FROM cand
) WHERE rn <= 3
""",
)
def geo_grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial k-NN self-join via uniform-grid blocking — the classic
    distributed spatial join (the partitioning strategy beneath
    SpatialSpark / Sedona's grid partitioner): points land in 1-degree
    cells; each point probes its own + 8 adjacent cells (explode of 9
    offsets → plain equi-join on cell ids); the exact distance kernel
    runs only within candidate cells; top-3 per point by window.
    Coordinates are synthesized deterministically in integer
    micro-degrees (no testdata geo columns) so the squared-distance
    math is exact BIGINT on both engines — a real deployment swaps in
    haversine at the verify step only.

    Scale posture: the quadratic kernel is confined to 3x3 cell
    neighborhoods (population tuned by cell size, the same knob as LSH
    bucket width); the probe fan-out is a constant 9x on the ID+coords
    projection, never on payloads; one shuffle on cell ids. Points
    whose neighborhood is empty simply emit no rows — correct for k-NN
    within a radius bound of one cell diagonal."""
    pts = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 2654435761) % 120000000 - 60000000).alias("lat"),
        (
            (F.col("c_custkey") * 40503 + 7) * 48271 % 360000000 - 180000000
        ).alias("lon"),
    )
    cells = pts.select(
        "c_custkey",
        "lat",
        "lon",
        F.expr("lat div 1000000").alias("cx"),
        F.expr("lon div 1000000").alias("cy"),
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("o")
    probes = cells.select(
        F.col("c_custkey").alias("key_a"),
        F.col("lat").alias("la"),
        F.col("lon").alias("lo"),
        "cx",
        "cy",
        offsets,
    ).select(
        "key_a",
        "la",
        "lo",
        (F.col("cx") + F.col("o.dx")).alias("px"),
        (F.col("cy") + F.col("o.dy")).alias("py"),
    )
    cand = (
        probes.join(
            cells, (F.col("cx") == F.col("px")) & (F.col("cy") == F.col("py"))
        )
        .filter(F.col("key_a") != F.col("c_custkey"))
        .select(
            "key_a",
            F.col("c_custkey").alias("key_b"),
            (
                (F.col("la") - F.col("lat")) * (F.col("la") - F.col("lat"))
                + (F.col("lo") - F.col("lon")) * (F.col("lo") - F.col("lon"))
            )
            .cast("bigint")
            .alias("dist2"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("key_a").orderBy("dist2", "key_b")
    return cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
