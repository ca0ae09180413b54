"""The rest of the TPC-H suite (Q4,6,8,9,12,13,14,15,17,19,21,22), adapted
to the driver's slimmed star schema and all DuckDB-oracled.

Adaptations (documented per query): the testdata has no ``partsupp``
table and no commit/receipt dates, phone, container, or comment columns.
Q2/Q11/Q16/Q20 are partsupp-bound and therefore not expressible against
this data (their join/agg shapes are covered by q8/q15/q17/q21
analogues); Q4/Q12/Q21 replace the commit/receipt lateness predicate
with ship-lag against ``o_orderdate``; Q22's phone country code becomes
the customer nation.

Scale posture (same rules as operators/tpch.py): nation/region are
fixed-cardinality → always broadcast-hinted; part/supplier/customer
scale with SF → no hardcoded hints, AQE chooses from runtime sizes;
facts join facts on their keys exactly once per query; every money
aggregate rounds to 2dp on both engines (float discipline per the
repo's parity rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table


@register(
    "q4_order_priority",
    tags=("tpch", "semijoin", "agg"),
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: orders per priority with at least one late line.
    Adapted: no commit/receipt dates in the testdata, so 'late' =
    shipped >60 days after the order date. EXISTS plans as a left-semi
    join on the order key — one fact⋈fact exchange, no duplication."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q6_forecast_revenue",
    tags=("tpch", "scan", "agg"),
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-side revenue forecast — every predicate pushes
    into the parquet reader, the aggregate is one partial+final sum with
    no join anywhere. The 100 TB plan is a single wide scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "q8_market_share",
    tags=("tpch", "join", "agg"),
    oracle="""
WITH exports AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = cn.n_regionkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM exports
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: NATION_5's share of PROMO-part volume sold into
    ASIA customers, by order year. Two nation roles (supplier side /
    customer side) join as separate broadcast lookups; part, supplier,
    customer carry no hints (SF-scaled — AQE decides)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    exports = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("cn_region"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "supp_nation")
    )
    return exports.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            4,
        ).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    tags=("tpch", "join", "agg"),
    oracle=f"""
WITH t AS (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         CAST(sum({to_cents_sql("l_extendedprice")}
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  - {to_cents_sql("p_retailprice")}
                    * CAST(round(l_quantity) AS BIGINT) * 50) AS BIGINT) AS s4
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%red%'
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  GROUP BY 1, 2
)
SELECT nation, o_year,
       (CASE WHEN s4 >= 0 THEN (s4 + 50) // 100
             ELSE -((-s4 + 50) // 100) END) / 100.0 AS profit
FROM t
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: profit on red parts by supplier nation and year.
    Adapted: no partsupp table, so supply cost is proxied as
    0.5·p_retailprice·l_quantity (same join/agg shape, deterministic).

    Profit folds EXACTLY in 1e-4-dollar integer units —
    price_cents*(100 - disc_pct) - retail_cents*qty*50 — then one
    sign-aware integer half-up to cents and one division. The
    fourth-scale (sf1) gate caught the round(sum(double), 2) form
    diverging cross-engine at 6M-row accumulation drift."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_1e4 = (
        to_cents("l_extendedprice")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        - to_cents("p_retailprice")
        * F.round(F.col("l_quantity")).cast("bigint")
        * 50
    )
    agged = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit_1e4).cast("bigint").alias("s4"))
    )
    cents = F.when(
        F.col("s4") >= 0, F.expr("(s4 + 50) div 100")
    ).otherwise(-F.expr("(-s4 + 50) div 100"))
    return agged.select("nation", "o_year", (cents / 100.0).alias("profit"))


@register(
    "q12_ship_lag_priority",
    tags=("tpch", "join", "agg"),
    oracle="""
SELECT year(l_shipdate) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY 1
""",
)
def q12_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: slow-shipped lines split by order priority.
    Adapted: no shipmode/commit/receipt columns — 'slow' = shipped >90
    days after the order date; groups by ship year."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    tags=("tpch", "join", "agg"),
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count histogram over customers, zero-order
    customers included via the left join (count(o_orderkey) skips the
    nulls). Adapted: the comment NOT LIKE filter becomes an order-
    priority filter. Two exchanges: custkey agg, then count agg."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q14_promo_revenue",
    tags=("tpch", "join", "agg"),
    oracle="""
SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: PROMO share of one month's revenue. The shipdate
    filter prunes the fact scan; part joins unhinted (SF-scaled)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(p, F.col("l_partkey") == F.col("p_partkey")).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            2,
        ).alias("promo_revenue")
    )


@register(
    "q15_top_supplier",
    tags=("tpch", "join", "agg", "subquery"),
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the quarter's top-revenue supplier(s), ties kept.
    Revenue rounds to 2dp BEFORE the max compare so tie semantics are
    engine-identical. The scalar max broadcasts back against the
    per-supplier aggregate — no second fact scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_qty_revenue",
    tags=("tpch", "join", "subquery", "agg"),
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_size < 15
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: revenue from unusually-small-quantity orders of
    one brand's small parts (container column absent — p_size stands in).
    The correlated per-part average decorrelates into one aggregate over
    the fact table joined back on the part key — at 100 TB that is one
    map-side-combined exchange, not a per-row subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    ).select("p_partkey")
    qlim = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(qlim, F.col("avg_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q19_disjunctive_revenue",
    tags=("tpch", "join", "scan"),
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: three-way disjunctive brand/size/quantity
    predicate (container/shipmode absent). Catalyst extracts the common
    join key so the OR evaluates post-join without a cross product."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q21_waiting_supplier",
    tags=("tpch", "join", "agg", "topk"),
    oracle="""
WITH lmax AS (
  SELECT l_orderkey, max(l_shipdate) AS max_ship,
         count(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_orderkey
)
SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN lmax      ON lmax.l_orderkey = l1.l_orderkey
WHERE l1.l_shipdate = lmax.max_ship AND lmax.n_supp > 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style: suppliers who were the LAST to ship in finalized
    multi-supplier orders (receipt/commit dates absent — latest shipdate
    stands in for 'kept the order waiting'). The exists/not-exists pair
    decorrelates into one per-order aggregate (max shipdate + distinct
    supplier count) joined back on the order key."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lmax = li.groupBy(F.col("l_orderkey").alias("mk")).agg(
        F.max("l_shipdate").alias("max_ship"),
        F.count_distinct(F.col("l_suppkey")).alias("n_supp"),
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(lmax, F.col("mk") == F.col("l_orderkey"))
        .filter((F.col("l_shipdate") == F.col("max_ship")) & (F.col("n_supp") > 1))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct(F.col("l_orderkey")).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q22_dormant_customers",
    tags=("tpch", "antijoin", "agg", "subquery"),
    oracle="""
SELECT n_name AS nation, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
""",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: well-funded customers with no order since 1999,
    by nation (phone country code absent — nation stands in; 'never
    ordered' becomes time-bounded dormancy so the result is non-empty on
    the dense synthetic data). The global average broadcasts as a 1-row
    join; dormancy is a left-anti join against the filtered orders key."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


RF_KEY_OFFSET = 1_000_000_000  # re-key for RF1 inserts, beyond any real key
RF1_MOD = 1000  # every 1000th order is (re-keyed and) inserted
RF2_MOD = 777   # every 777th order is deleted


@register(
    "tpch_refresh_functions",
    tags=("tpch", "cdc"),
    oracle=f"""
WITH rf1_o AS (
  SELECT o_orderkey + {RF_KEY_OFFSET} AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % {RF1_MOD} = 0
), rf1_l AS (
  SELECT l_orderkey + {RF_KEY_OFFSET} AS l_orderkey, l_quantity, l_extendedprice
  FROM lineitem WHERE l_orderkey % {RF1_MOD} = 0
), o2 AS (
  SELECT * FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                        o_orderdate, o_orderpriority FROM orders
                 UNION ALL SELECT * FROM rf1_o)
  WHERE o_orderkey % {RF2_MOD} <> 0
), l2 AS (
  SELECT * FROM (SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem
                 UNION ALL SELECT * FROM rf1_l)
  WHERE l_orderkey % {RF2_MOD} <> 0
)
SELECT o.o_orderstatus,
       CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS orders_total,
       CAST(sum(ln.nl) AS BIGINT) AS n_lineitems
FROM o2 o
LEFT JOIN (SELECT l_orderkey, count(*) AS nl FROM l2 GROUP BY 1) ln
  ON ln.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""",
)
def tpch_refresh_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh functions RF1/RF2 (spec §2.27-2.28) — the
    insert/delete maintenance half of the benchmark that query-only
    suites skip: RF1 inserts a re-keyed batch of new orders + their
    lineitems, RF2 deletes a disjoint keyed slice from both tables, and
    the audit aggregates the post-refresh state per order status. Both
    refreshes are pure relational algebra — RF1 is unionByName, RF2 an
    anti-predicate (at 100 TB: a MERGE DELETE keyed exactly like
    `merge_into_upsert`) — so ACID-free parquet still replays them
    deterministically. Referential integrity is preserved by keying
    lineitems with the same offset/modulus as their orders."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    rf1_o = o.filter(F.col("o_orderkey") % RF1_MOD == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + RF_KEY_OFFSET
    )
    rf1_l = li.filter(F.col("l_orderkey") % RF1_MOD == 0).withColumn(
        "l_orderkey", F.col("l_orderkey") + RF_KEY_OFFSET
    )
    o2 = o.unionByName(rf1_o).filter(F.col("o_orderkey") % RF2_MOD != 0)
    l2 = li.unionByName(rf1_l).filter(F.col("l_orderkey") % RF2_MOD != 0)
    per_order = l2.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nl"))
    return (
        o2.join(per_order, o2.o_orderkey == per_order.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count_distinct(F.col("o_orderkey")).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("orders_total"),
            F.sum("nl").cast("bigint").alias("n_lineitems"),
        )
    )
