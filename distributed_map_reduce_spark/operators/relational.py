"""Core relational surface: scans, filters, projections, scalar functions,
aggregations, grouping sets, having, ordering/limits.

The reference expresses all of these only through hand-written map/reduce
closures (SURVEY.md §2.2-§2.3); here they are declarative DataFrame plans
so Catalyst gets predicate pushdown, column pruning, partial aggregation,
and whole-stage codegen for free (SURVEY.md §4).

Scale posture: every query is a scan → (filter) → partial agg → exchange →
final agg shape. Filters and projections reach the parquet reader
(PushedFilters / ReadSchema — verified in tests/test_plans.py); group-bys
shuffle once on the grouping key; no driver-side loops.

Float discipline for the DuckDB oracle: double aggregates are rounded
(money 2dp, ratios 4-6dp) on BOTH sides so partial-aggregation ordering
differences can't flip a hash bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_sql
from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary.
# Reference analog: the NCDC max-temp pipeline generalized — scan → parse →
# group → aggregate (SURVEY.md §2.2 Q1-Q3, Q7-Q8), but with 8 simultaneous
# aggregates and whole-stage codegen instead of per-key HTTP shuffles.
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    bench=True,
    tags=("agg", "flagship"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: one shuffle, map-side partial aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "scan_filter_project",
    tags=("scan",),
    oracle="""
SELECT l_orderkey, l_partkey, round(l_extendedprice * (1 - l_discount), 4) AS net_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity < 10
""",
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conjunctive filter; both push into the parquet scan
    (PushedFilters shows l_shipdate/l_quantity, ReadSchema is 5 columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (F.col("l_quantity") < 10))
        .select(
            "l_orderkey",
            "l_partkey",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        )
    )


@register(
    "filter_predicates",
    tags=("scan",),
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM orders
WHERE (o_orderstatus IN ('O', 'F'))
  AND o_totalprice BETWEEN 1000 AND 50000
  AND o_orderpriority LIKE '%URGENT%'
  AND NOT (o_custkey = 1)
""",
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / BETWEEN / LIKE / NOT predicate forms in one pushed-down scan."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 50000)
        & F.col("o_orderpriority").like("%URGENT%")
        & ~(F.col("o_custkey") == 1)
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@register(
    "scalar_string_funcs",
    tags=("scalar",),
    oracle="""
SELECT c_custkey,
       lower(c_name)                                   AS name_lower,
       upper(c_mktsegment)                             AS seg_upper,
       substr(c_name, 1, 8)                            AS name_prefix,
       length(c_name)                                  AS name_len,
       concat(c_name, '#', c_mktsegment)               AS name_seg,
       replace(c_name, 'Customer', 'Cust')             AS name_short,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0')        AS key_padded,
       trim('  ' || c_mktsegment || ' ')               AS seg_trim,
       regexp_extract(c_name, '([0-9]+)', 1)           AS name_digits,
       (c_mktsegment LIKE 'MACH%')                     AS is_mach
FROM customer
""",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar library — all JVM-side codegen'd expressions."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.col("c_mktsegment").like("MACH%").alias("is_mach"),
    )


@register(
    "scalar_math_funcs",
    tags=("scalar",),
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(abs(l_extendedprice - 1000.0), 4)     AS abs_diff,
       CAST(ceil(l_quantity / 7.0) AS BIGINT)      AS qty_ceil,
       CAST(floor(l_quantity / 7.0) AS BIGINT)     AS qty_floor,
       round(sqrt(l_extendedprice), 6)             AS price_sqrt,
       round(ln(l_extendedprice + 1), 6)           AS price_ln,
       round(log10(l_extendedprice + 1), 6)        AS price_log10,
       round(pow(1 + l_discount, 2), 6)            AS disc_sq,
       CAST(l_quantity AS BIGINT) % 5              AS qty_mod,
       round(greatest(l_discount, l_tax), 2)       AS max_rate,
       round(least(l_discount, l_tax), 2)          AS min_rate
FROM lineitem
WHERE l_orderkey <= 500
""",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar library over a pruned scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 4).alias("abs_diff"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7.0).alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 6).alias("price_log10"),
        F.round(F.pow(1 + F.col("l_discount"), 2), 6).alias("disc_sq"),
        (F.col("l_quantity").cast("bigint") % 5).alias("qty_mod"),
        F.round(F.greatest("l_discount", "l_tax"), 2).alias("max_rate"),
        F.round(F.least("l_discount", "l_tax"), 2).alias("min_rate"),
    )


@register(
    "scalar_date_funcs",
    tags=("scalar",),
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE)                                    AS order_date,
       year(o_orderdate)                                            AS order_year,
       month(o_orderdate)                                           AS order_month,
       day(o_orderdate)                                             AS order_day,
       quarter(o_orderdate)                                         AS order_quarter,
       CAST(date_trunc('month', o_orderdate) AS DATE)               AS month_start,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE)            AS month_end,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE)                  AS due_date,
       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch
FROM orders
WHERE o_orderkey <= 600
""",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar library (UTC-pinned session for oracle parity)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 600)
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        od.cast("date").alias("order_date"),
        F.year(od).alias("order_year"),
        F.month(od).alias("order_month"),
        F.dayofmonth(od).alias("order_day"),
        F.quarter(od).alias("order_quarter"),
        F.date_trunc("month", od).cast("date").alias("month_start"),
        F.last_day(od.cast("date")).alias("month_end"),
        F.date_add(od.cast("date"), 30).alias("due_date"),
        F.datediff(od.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_epoch"),
    )


@register(
    "conditional_exprs",
    tags=("scalar",),
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 100000 THEN 'high'
            WHEN o_totalprice > 10000  THEN 'mid'
            ELSE 'low' END                               AS price_band,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING')   AS status_norm,
       (CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS is_open
FROM orders
""",
)
def conditional_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN, NULLIF, COALESCE — null-generating and null-folding."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 100000, "high")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias("status_norm"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("is_open"),
    )


@register(
    "agg_stats",
    tags=("agg",),
    oracle="""
SELECT l_returnflag,
       count(*)                                              AS n,
       count(DISTINCT l_partkey)                             AS n_parts,
       round(sum(l_quantity), 2)                             AS sum_qty,
       round(min(l_extendedprice), 2)                        AS min_price,
       round(max(l_extendedprice), 2)                        AS max_price,
       round(stddev_samp(l_extendedprice), 4)                AS sd_price,
       round(var_samp(l_quantity), 4)                        AS var_qty,
       round(corr(l_quantity, l_extendedprice), 6)           AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4)     AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — single-pass, map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
    )


@register(
    "agg_rollup",
    tags=("agg",),
    oracle="""
SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "agg_cube",
    tags=("agg",),
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping combinations in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_grouping_sets",
    tags=("agg",),
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       sum({to_cents_sql("o_totalprice")}) / 100.0 AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint rollups) via Spark SQL.

    Total is an EXACT integer-cents sum divided once (not
    round(sum(double), 2)): the fourth-scale gate (sf1) caught the
    raw-double form diverging cross-engine — at 1.5M rows the
    accumulation-order drift (~0.01) exceeds the 2dp midpoint distance.
    Same bigint, same division, identical doubles on both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               sum({to_cents_sql("o_totalprice")}) / 100.0D AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_having",
    tags=("agg",),
    oracle="""
SELECT l_partkey, count(*) AS n_lines, round(sum(l_quantity), 2) AS total_qty
FROM lineitem
GROUP BY l_partkey
HAVING count(*) > 20 AND sum(l_quantity) > 500
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — planned as filter above agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter((F.col("n_lines") > 20) & (F.col("_raw_qty") > 500))
        .drop("_raw_qty")
    )


@register(
    "order_limit_topk",
    tags=("sort",),
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
""",
)
def order_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K: Spark plans TakeOrderedAndProject — a per-partition
    heap + driver merge of K rows, not a full sort (scales to any N)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .limit(25)
    )


@register(
    "agg_approx_distinct",
    tags=("agg", "approx"),
    # HLL sketches differ between engines by design — rows-only check.
    oracle=None,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct + approx percentiles: sketch-based aggregates
    whose exact values are engine-specific (no SQL oracle by design —
    the companion `agg_stats` carries the exact-distinct oracle).

    Quantiles are emitted as three scalar columns (not one array column):
    the driver's rows-only canonicalizer sorts cell values and cannot hash
    an array cell (CORRECTNESS_r01 err: unhashable numpy.ndarray)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("price_p50"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("price_p90"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("price_p99"),
    )


@register(
    "sort_global",
    tags=("sort",),
    oracle="""
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
FROM supplier
ORDER BY s_acctbal DESC, s_suppkey
""",
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total ordering without a limit: planned as a range-partitioned
    exchange (sampled split points) + per-partition sort — never a
    single-reducer sort. The driver's compare is order-insensitive; the
    ORDER BY is the operator under test, not the output contract."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    ).orderBy(F.col("acctbal").desc(), "s_suppkey")


# The exact SQL text below runs VERBATIM on both engines: Spark executes
# it via spark.sql() over register_views' temp views, DuckDB via the
# oracle harness over its identically-named parquet views.
_SQL_INTERFACE_TEXT = """
SELECT r_name,
       count(DISTINCT n_nationkey)        AS n_nations,
       count(*)                           AS n_suppliers,
       round(sum(s_acctbal), 2)           AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register("sql_interface_verbatim", tags=("sql", "catalog"), oracle=_SQL_INTERFACE_TEXT)
def sql_interface_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-SQL entry point: one ANSI SQL string executed VERBATIM
    by both engines — Spark over `register_views` temp views, DuckDB over
    its parquet views. Proves a reference user can drive this engine with
    nothing but SQL text (no DataFrame API), and that the catalog
    namespace matches the oracle's exactly."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_INTERFACE_TEXT)


@register(
    "agg_decimal_exact",
    tags=("agg", "types"),
    oracle="""
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
            AS VARCHAR) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-exact aggregation: DECIMAL(18,2) sums that are bit-identical
    across engines and association orders — the float-free accounting
    path (doubles drift in the 13th digit across differently-ordered
    partial sums; decimals cannot). The comparable form is the
    fixed-scale decimal STRING: pandas converts a wide DuckDB DECIMAL to
    float64 (dropping the exact digits this query exists to prove),
    while Spark ships Decimal objects — so both engines CAST the exact
    result to a scale-pinned string and the hash compares those
    unrounded digit sequences.

    Spark's decimal sum widens precision (never overflows silently) and
    stays inside Tungsten's fixed-point codegen — same one-exchange
    hash-agg plan as the double version.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("string").alias("sum_price"),
        F.sum(price * disc).cast("decimal(38,4)").cast("string").alias("sum_disc_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "sql_pipe_syntax",
    tags=("sql",),
    oracle=f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       -- exact cents sum, one shared /100.0 (r8 sf10-stride catch: the
       -- raw double sum's drift crossed the 2dp grain at ~3M rows/group)
       sum({to_cents_sql("o_totalprice")}) / 100.0 AS total
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, `|>`): the linear FROM→WHERE→AGGREGATE
    dataflow form of the classic grouped aggregate — each stage pipes
    into the next in reading order, compiling to the identical Catalyst
    plan as the nested SELECT the oracle runs. Registered so pipe-syntax
    users have a proven entry point; everything downstream (pushdown,
    partial aggs, AQE) is unchanged."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(f"""
FROM orders
|> WHERE o_orderdate >= DATE '1995-01-01'
|> AGGREGATE count(*) AS n_orders,
             -- divisor cast: a bare 100.0 literal is DECIMAL in Spark
             -- SQL (bigint/decimal -> decimal(27,6)) but DOUBLE in the
             -- DuckDB twin; cast so both sides render as double
             sum({to_cents_sql("o_totalprice")})
               / CAST(100 AS DOUBLE) AS total
   GROUP BY o_orderpriority
|> ORDER BY o_orderpriority
""")


@register(
    "scalar_try_funcs",
    tags=("scalar", "ansi"),
    oracle=f"""
WITH t AS (
  SELECT o_orderstatus,
         o_totalprice / nullif(o_orderkey % 5, 0) AS safe_div,
         -- exact twelfths-of-cents units (r9 sf10 stride catch): divisors
         -- are 1..4, so cents * (12 // d) is integer and the sum is exact
         CASE WHEN o_orderkey % 5 <> 0
              THEN {to_cents_sql("o_totalprice")}
                   * (12 // (o_orderkey % 5)) END AS div_units,
         TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN '12x'
                       ELSE CAST(o_orderkey AS VARCHAR) END AS DOUBLE) AS parsed,
         CASE WHEN CAST(o_orderkey AS HUGEINT) * 4611686018427387904 >
                   9223372036854775807
              THEN NULL ELSE o_orderkey * 4611686018427387904 END AS big_prod
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE safe_div IS NULL) AS BIGINT) AS n_div_by_zero,
       round(sum(div_units) / 12.0) / 100.0 AS sum_safe_div,
       CAST(count(*) FILTER (WHERE parsed IS NULL) AS BIGINT) AS n_unparseable,
       round(sum(parsed), 1) AS sum_parsed,
       CAST(count(*) FILTER (WHERE big_prod IS NULL) AS BIGINT) AS n_overflow
FROM t GROUP BY o_orderstatus
""",
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe scalar tier (Spark 4 runs ANSI by default, so
    division-by-zero / overflow / bad casts THROW unless the try_*
    variants are used): try_divide → NULL on zero, try_cast → NULL on
    garbage, try_multiply → NULL on BIGINT overflow. The oracle encodes
    the identical null semantics via nullif/TRY_CAST/HUGEINT-guarded
    arithmetic. This is the fail-soft contract a 100 TB batch needs —
    one poisoned row degrades to NULL and an accounting column, instead
    of killing a 1000-executor stage hours in.

    r9 (caught by the sf10 stride): sum_safe_div aggregates EXACT
    twelfths-of-cents integers instead of the try_divide doubles —
    `round(sum(double), 2)` drifted cross-engine at sf10 magnitudes
    (~5e11, summation-order ulps land on different 2dp roundings).
    try_divide itself still drives the null accounting; divisors are
    1..4 so cents * (12 div d) is integer and the sum is exact, with
    one final round on an engine-identical double."""
    o = load_table(spark, sf_dir, "orders")
    cents = to_cents("o_totalprice")
    d = F.col("o_orderkey") % 5
    t = o.select(
        "o_orderstatus",
        F.try_divide("o_totalprice", F.col("o_orderkey") % 5).alias("safe_div"),
        F.when(d != 0, cents * (F.lit(12) / d).cast("bigint")).alias("div_units"),
        F.expr(
            "try_cast(CASE WHEN o_orderkey % 3 = 0 THEN '12x' "
            "ELSE CAST(o_orderkey AS STRING) END AS DOUBLE)"
        ).alias("parsed"),
        F.try_multiply("o_orderkey", F.lit(4611686018427387904)).alias("big_prod"),
    )
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("safe_div").isNull()).cast("bigint").alias("n_div_by_zero"),
        (F.round(F.sum("div_units") / 12.0) / 100.0).alias("sum_safe_div"),
        F.count_if(F.col("parsed").isNull()).cast("bigint").alias("n_unparseable"),
        F.round(F.sum("parsed"), 1).alias("sum_parsed"),
        F.count_if(F.col("big_prod").isNull()).cast("bigint").alias("n_overflow"),
    )


@register(
    "sql_group_by_all",
    tags=("sql",),
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+/DuckDB-style sugar): every non-aggregate
    select item becomes a grouping key automatically — the
    keeps-queries-in-sync form analysts port from DuckDB/Snowflake.
    Compiles to the identical aggregate the explicit oracle runs."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ALL
""")


@register(
    "sql_named_parameters",
    tags=("sql",),
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(max(o_totalprice), 2) AS max_price
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderdate >= DATE '1996-01-01'
GROUP BY o_orderpriority
""",
)
def sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+ named-parameter binding): values
    bind server-side as literals through `spark.sql(text, args=...)` —
    the injection-safe templating surface for programmatic query
    services (the reference's query interface is programmatic too:
    closures over config). The bound plan is identical to inlining the
    literals, so pushdown still reaches the scan."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(max(o_totalprice), 2) AS max_price
FROM orders
WHERE o_totalprice > :min_price AND o_orderdate >= :cutoff
GROUP BY o_orderpriority
""",
        args={"min_price": 150000.0, "cutoff": "1996-01-01"},
    )


@register(
    "scalar_bitwise_funcs",
    tags=("scalar",),
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
       CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
       CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS key_xor,
       CAST(bit_count(o_orderkey) AS BIGINT) AS popcount,
       CAST((o_orderkey >> 4) AS BIGINT) AS shifted
FROM orders
WHERE o_orderkey <= 5000
""",
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface: and/or/xor masks, popcount, shifts — the
    flag-word and bucket-arithmetic toolbox (the Z-order and Bloom
    operators build on exactly these). All exact integer ops inside
    codegen; engine-portable by construction."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").cast("bigint").alias("low_byte"),
        F.expr("o_orderkey | 4096").cast("bigint").alias("with_flag"),
        F.expr("o_orderkey ^ o_custkey").cast("bigint").alias("key_xor"),
        F.bit_count("o_orderkey").cast("bigint").alias("popcount"),
        F.expr("shiftright(o_orderkey, 4)").cast("bigint").alias("shifted"),
    )


@register(
    "agg_string_concat_groups",
    tags=("agg", "reshape"),
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def agg_string_concat_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): nations per
    region as one sorted CSV cell — the denormalize-for-export verb.
    Determinism requires the explicit ORDER BY inside the aggregate;
    Spark expresses it as concat_ws over sort_array(collect_list(...)),
    which keeps the collect map-side partial and sorts per group once.
    Only safe when group fan-in is bounded (25 nations here) — at
    100 TB an unbounded LISTAGG is a one-row OOM, use explode-side
    processing instead."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias(
                "nations_csv"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        )
    )


@register(
    "agg_aging_buckets",
    tags=("agg", "reporting"),
    oracle=f"""
WITH open_orders AS (
  SELECT o_orderstatus, o_orderdate, o_totalprice
  FROM orders WHERE o_orderstatus <> 'F'
), report_date AS (SELECT max(o_orderdate) AS today FROM open_orders),
aged AS (
  SELECT o_orderstatus,
         CASE WHEN date_diff('day', o_orderdate, today) <= 30 THEN '0-30'
              WHEN date_diff('day', o_orderdate, today) <= 60 THEN '31-60'
              WHEN date_diff('day', o_orderdate, today) <= 90 THEN '61-90'
              ELSE '90+' END AS age_bucket,
         o_totalprice
  FROM open_orders, report_date
)
SELECT o_orderstatus, age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       -- exact cents sum, one shared /100.0 (sf10-gate fix: the raw
       -- double sum's accumulation drift crossed the 2dp grain at 100x)
       sum({to_cents_sql("o_totalprice")}) / 100.0 AS outstanding
FROM aged GROUP BY o_orderstatus, age_bucket
""",
)
def agg_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging report (receivables-style): open orders bucketed by days
    outstanding relative to the dataset's as-of date — the 30/60/90
    operational report. The as-of scalar comes from one max() agg
    broadcast into the bucketing CASE; day arithmetic is exact integer
    datediff on both engines."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    asof = o.agg(F.max("o_orderdate").alias("today"))
    aged = o.crossJoin(F.broadcast(asof)).select(
        "o_orderstatus",
        "o_totalprice",
        F.datediff("today", "o_orderdate").alias("age_days"),
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
    )
    return aged.groupBy("o_orderstatus", bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (F.sum(to_cents("o_totalprice")) / 100.0).alias(
            "outstanding"
        ),
    )


@register(
    "sql_execute_immediate",
    tags=("sql",),
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderdate >= CAST('1995-01-01' AS DATE)
  AND o_orderdate <  CAST('1996-01-01' AS DATE)
GROUP BY o_orderpriority
""",
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL via EXECUTE IMMEDIATE + session variable + named bind
    parameters (Spark 4 SQL scripting surface): the query TEXT lives in
    a session variable and the date range arrives as USING parameters —
    the stored-procedure-style indirection BI layers and migration
    tools emit. Parameter binding goes through the analyzer (typed,
    injection-safe), not string interpolation; the plan compiled is
    identical to the static oracle."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE dmrs_q STRING")
    spark.sql(
        """SET VAR dmrs_q =
        'SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM orders
         WHERE o_orderdate >= CAST(:lo AS DATE)
           AND o_orderdate <  CAST(:hi AS DATE)
         GROUP BY o_orderpriority'"""
    )
    return spark.sql(
        "EXECUTE IMMEDIATE dmrs_q USING '1995-01-01' AS lo, '1996-01-01' AS hi"
    )


@register(
    "scalar_collation_compare",
    tags=("sql", "scalar"),
    oracle="""
WITH t AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 2 = 0 THEN lower(o_orderpriority)
              ELSE upper(o_orderpriority) END AS pri
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(DISTINCT pri) AS BIGINT) AS n_distinct_binary,
       CAST(count(DISTINCT lower(pri)) AS BIGINT) AS n_distinct_ci,
       CAST(count(*) FILTER (WHERE lower(pri) = '1-urgent') AS BIGINT) AS n_urgent_ci
FROM t
GROUP BY o_orderstatus
""",
)
def scalar_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): the same distinct/filter under
    binary vs UTF8_LCASE collation. `collate(s, 'UTF8_LCASE')` changes
    comparison semantics INSIDE the engine — hash aggregation, joins,
    and equality all honor it without materializing lower(s), and a
    collated Parquet column keeps its statistics usable for pruning.
    The oracle replays the case-insensitive semantics with explicit
    lower() (DuckDB's collation-free equivalent); a mixed-case priority
    column is synthesized so binary and CI distinct counts differ."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 2 == 0, F.lower("o_orderpriority"))
        .otherwise(F.upper("o_orderpriority"))
        .alias("pri"),
    )
    ci = F.collate(F.col("pri"), "UTF8_LCASE")
    return t.groupBy("o_orderstatus").agg(
        F.count_distinct(F.col("pri")).cast("bigint").alias("n_distinct_binary"),
        F.count_distinct(ci).cast("bigint").alias("n_distinct_ci"),
        F.count_if(ci == F.lit("1-URGENT")).cast("bigint").alias("n_urgent_ci"),
    )


@register(
    "analytics_skyline_pareto",
    tags=("analytics", "window"),
    oracle=f"""
WITH pts AS (
  SELECT p_partkey,
         {to_cents_sql("p_retailprice")} AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
), ranked AS (
  SELECT *,
         max(size) OVER (ORDER BY price_cents, size DESC, p_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS best_size_cheaper
  FROM pts
)
SELECT p_partkey, price_cents, size
FROM ranked
WHERE best_size_cheaper IS NULL OR size > best_size_cheaper
""",
)
def analytics_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier operator (Börzsönyi et al., ICDE 2001):
    parts not dominated on (price↓, size↑) — no other part is both
    cheaper-or-equal and strictly larger. The O(n²) dominance test
    collapses to ONE sorted window pass: order by (price asc, size
    desc), keep a row iff its size exceeds the best size seen at
    strictly better-or-equal price (running max over the preceding
    frame). Ties are pinned (size desc, partkey) so equal-price groups
    resolve identically on both engines; all values are exact BIGINTs.

    Scale: the sort-based sweep runs as the two-phase banded running
    max (`ranks.two_phase_ordered` with a price-bucket key, VERDICT r7
    #4 — per-bucket max sweep + bucket-prefix max offsets, bit-identical
    to the one-task window and parallel over the part-cardinality
    frame); at 100 TB one can additionally pre-filter per partition (a
    point dominated locally is dominated globally) before the sweep."""
    from .ranks import two_phase_ordered

    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        to_cents("p_retailprice").alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    ranked = two_phase_ordered(
        pts,
        (F.col("price_cents") / 1000).cast("bigint"),
        [F.col("price_cents"), F.col("size").desc(), F.col("p_partkey")],
        prev_maxes={"size": "best_size_cheaper"},
    )
    return ranked.filter(
        F.col("best_size_cheaper").isNull()
        | (F.col("size") > F.col("best_size_cheaper"))
    ).select("p_partkey", "price_cents", "size")


@register(
    "hierarchy_subtree_rollup",
    tags=("sql", "recursive", "analytics"),
    oracle=f"""
WITH RECURSIVE walk(root, node) AS (
  SELECT c_custkey, c_custkey FROM customer WHERE c_custkey < 3
  UNION ALL
  SELECT w.root, c.c_custkey
  FROM walk w JOIN customer c
    ON c.c_custkey // 7 = w.node AND c.c_custkey <> w.node
)
SELECT w.root,
       CAST(count(*) - 1 AS BIGINT) AS n_descendants,
       CAST(sum({to_cents_sql("c.c_acctbal")}) AS BIGINT)
           AS subtree_cents
FROM walk w JOIN customer c ON c.c_custkey = w.node
GROUP BY w.root
""",
)
def hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup (BOM-explosion / org-chart shape): a
    synthetic tree over customers (parent(k) = k div 7 — every node one
    parent, the root 0 self-parented and excluded from descent) walked
    with an ENGINE-NATIVE recursive CTE from three roots, then rolled
    up to per-root descendant counts and subtree balances. The classic
    workload relational engines historically punted to app code;
    Spark 4's WITH RECURSIVE keeps the whole explosion in one Catalyst
    plan, mirrored exactly by the DuckDB oracle.

    Each recursion step is one equi-join (child div 7 = node) — at
    100 TB the per-level frontier is partition-parallel, and tree depth
    (log_7 n) bounds the step count. Multiplicity-safe because a tree
    gives each node exactly one derivation path.

    The walk emits one row per (root, descendant) — LINEAR in the
    customer count (each node has exactly one root), so Spark's default
    cteRecursionRowLimit of 1M is a safety valve this query legitimately
    outgrows at ~1.5M customers (hit at the r8 sf10 stride gate). Scale
    the limit to the linear bound: 2 rows per customer covers every
    fixture decade without re-enabling runaway-recursion risk. The
    override is SCOPED (ADVICE r8): the recursion materializes eagerly
    under the raised limit (the rollup is 2-3 rows — a free checkpoint)
    and the session limit is restored in a finally, so later recursive
    CTEs in the same session keep the stock safety valve. The sizing
    count is metadata-only (parquet row-count, no column scan)."""
    cust = load_table(spark, sf_dir, "customer")
    n_cust = cust.count()
    prior = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    floor_limit = int(prior) if prior is not None else 1000000
    cust.createOrReplaceTempView("_hier_customer")
    spark.conf.set(
        "spark.sql.cteRecursionRowLimit", str(max(floor_limit, 2 * n_cust))
    )
    try:
        return spark.sql(f"""
WITH RECURSIVE walk(root, node) AS (
  SELECT c_custkey, c_custkey FROM _hier_customer WHERE c_custkey < 3
  UNION ALL
  SELECT w.root, c.c_custkey
  FROM walk w JOIN _hier_customer c
    ON c.c_custkey div 7 = w.node AND c.c_custkey <> w.node
)
SELECT w.root,
       CAST(count(*) - 1 AS BIGINT) AS n_descendants,
       CAST(sum({to_cents_sql("c.c_acctbal")}) AS BIGINT)
           AS subtree_cents
FROM walk w JOIN _hier_customer c ON c.c_custkey = w.node
GROUP BY w.root
""").localCheckpoint(eager=True)
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.cteRecursionRowLimit", prior)
        else:
            spark.conf.unset("spark.sql.cteRecursionRowLimit")


@register(
    "snapshot_diff_audit",
    tags=("analytics", "cdc"),
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey AS k, {to_cents_sql("o_totalprice")} AS cents
  FROM orders
), v2 AS (
  SELECT k,
         CASE WHEN k % 13 = 0 THEN cents + 1111 ELSE cents END AS cents
  FROM v1 WHERE k % 97 <> 0
  UNION ALL
  SELECT k + 10000000 AS k, cents FROM v1 WHERE k % 101 = 0
), d AS (
  SELECT coalesce(v1.k, v2.k) AS k, v1.cents AS c1, v2.cents AS c2
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
)
SELECT CASE WHEN c1 IS NULL THEN 'added'
            WHEN c2 IS NULL THEN 'removed'
            WHEN c1 <> c2 THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(coalesce(sum(abs(c2 - c1)), 0) AS BIGINT) AS total_cents_delta
FROM d GROUP BY 1
""",
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table snapshot diff — the audit run between two versions of a
    dataset (yesterday's load vs today's): a FULL OUTER join on the key
    classifies every row as added / removed / changed / unchanged and
    totals the value drift on changes. Version 2 is derived
    deterministically (drop every 97th key, perturb every 13th price,
    append new keys from every 101st row) so both engines build the
    identical pair of snapshots.

    This is the reconciliation primitive beneath data-diff tooling and
    Delta/Iceberg snapshot compare: one co-partitioned join on the key
    (both sides shuffle once on k; with bucketed or snapshot-partitioned
    storage the exchange disappears), counts per class, no row-level
    materialization beyond the join itself."""
    v1 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        to_cents("o_totalprice").alias("cents"),
    )
    v2 = (
        v1.filter(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(F.col("k") % 13 == 0, F.col("cents") + 1111)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionByName(
            v1.filter(F.col("k") % 101 == 0).select(
                (F.col("k") + 10000000).alias("k"), "cents"
            )
        )
    )
    d = v1.select(
        F.col("k").alias("k1"), F.col("cents").alias("c1")
    ).join(
        v2.select(F.col("k").alias("k2"), F.col("cents").alias("c2")),
        F.col("k1") == F.col("k2"),
        "full_outer",
    )
    change = (
        F.when(F.col("c1").isNull(), "added")
        .when(F.col("c2").isNull(), "removed")
        .when(F.col("c1") != F.col("c2"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.select(change.alias("change_type"), "c1", "c2")
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum(F.abs(F.col("c2") - F.col("c1"))), F.lit(0))
            .cast("bigint")
            .alias("total_cents_delta"),
        )
    )


@register(
    "audit_merkle_ranges",
    tags=("analytics", "kv", "integrity"),
    oracle=f"""
WITH rows_ AS (
  SELECT o_orderkey AS k,
         {to_cents_sql("o_totalprice")} AS cents
  FROM orders
), digests AS (
  SELECT k // 1000 AS bucket,
         {md5_int_sql("CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)", 12)} AS digest
  FROM rows_
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(digest) AS BIGINT) AS range_checksum
FROM digests
GROUP BY bucket
""",
)
def audit_merkle_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-integrity range checksums — the Merkle-tree level a
    KV store anti-entropy pass exchanges (Dynamo/Cassandra repair; the
    reference's control plane gossips node state, SURVEY §2.1 D24 —
    this is the data-plane audit that detects replica divergence):
    every row folds to a portable content digest (md5 over its
    canonical key:value rendering, 48-bit prefix so a BIGINT sum of
    any row count cannot overflow), and each 1000-key range publishes
    (row count, digest sum). Two replicas compare these tiny summaries
    and ship only mismatched ranges.

    The checksum is an order-independent commutative monoid (sum), so
    it is map-side combinable, mergeable across partitions and levels
    (summing range checksums gives the parent node), and immune to row
    order — one pass, one bucket-cardinality aggregate at any scale."""
    rows_ = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        to_cents("o_totalprice").alias("cents"),
    )
    digests = rows_.select(
        F.expr("k div 1000").alias("bucket"),
        md5_int(
            F.concat_ws("", F.col("k").cast("string"), F.lit(":"), F.col("cents").cast("string")),
            12,
        ).alias("digest"),
    )
    return digests.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("digest").cast("bigint").alias("range_checksum"),
    )


@register(
    "sql_scripting_compound",
    tags=("sql", "scripting"),
    oracle=f"""
WITH RECURSIVE th(k, thr) AS (
  SELECT 0, CAST(5000000 AS BIGINT)
  UNION ALL
  SELECT k + 1, thr // 2 FROM th WHERE k < 20
), counts AS (
  SELECT k, thr,
         (SELECT count(*) FROM orders
          WHERE {to_cents_sql("o_totalprice")} >= th.thr) AS n
  FROM th
), sel AS (
  SELECT thr FROM counts WHERE n >= 1000 ORDER BY k LIMIT 1
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       (SELECT thr FROM sel) AS threshold_cents
FROM orders
WHERE {to_cents_sql("o_totalprice")} >= (SELECT thr FROM sel)
GROUP BY o_orderpriority
""",
)
def sql_scripting_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 compound statements): a BEGIN…END block
    with DECLAREd variables and a data-driven WHILE loop — halve a
    price threshold until at least 1000 orders qualify, then report the
    qualifying orders per priority at the found threshold. This is the
    stored-procedure control flow migrations bring from warehouse
    dialects, running entirely inside Spark's SQL layer (each loop
    iteration is one aggregate; the loop variable lives in the session,
    not in a driver-side Python loop). The oracle replays the fixpoint
    declaratively: a recursive CTE generates the halving sequence and
    picks the first threshold whose count clears the bar — loop and
    CTE provably agree because the threshold sequence is identical
    integer halving."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_script_orders")
    return spark.sql(f"""
BEGIN
  DECLARE thr BIGINT DEFAULT 5000000;
  DECLARE n BIGINT DEFAULT 0;
  SET n = (SELECT count(*) FROM _script_orders
           WHERE {to_cents_sql("o_totalprice")} >= thr);
  WHILE n < 1000 DO
    SET thr = thr DIV 2;
    SET n = (SELECT count(*) FROM _script_orders
             WHERE {to_cents_sql("o_totalprice")} >= thr);
  END WHILE;
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         thr AS threshold_cents
  FROM _script_orders
  WHERE {to_cents_sql("o_totalprice")} >= thr
  GROUP BY o_orderpriority;
END
""")


@register(
    "sql_udf_declared",
    tags=("sql", "udf"),
    oracle="""
WITH t AS (
  SELECT o_orderpriority,
         o_totalprice * (1 - CASE WHEN o_orderkey % 3 = 0 THEN 0.10 ELSE 0.02 END)
             AS discounted,
         CASE WHEN o_totalprice >= 200000 THEN 'large'
              WHEN o_totalprice >= 50000 THEN 'medium'
              ELSE 'small' END AS size_class
  FROM orders
)
SELECT o_orderpriority, size_class,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(discounted), 2) AS total_discounted
FROM t GROUP BY o_orderpriority, size_class
""",
)
def sql_udf_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-declared UDFs (Spark 4 `CREATE FUNCTION … RETURN expr`): the
    function body is a SQL expression the analyzer INLINES into the
    calling plan — whole-stage codegen, no serialization boundary, no
    Python worker — which is why a SQL UDF is the first rung of this
    repo's API ladder (built-in > SQL UDF > Arrow pandas_udf >
    mapInPandas). Two functions (a conditional discount and a
    CASE-ladder classifier) drive a grouped rollup; the oracle applies
    the same expressions inline, and the hash match proves inlining
    preserves semantics exactly."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION dmrs_discount(price DOUBLE, k BIGINT)
RETURNS DOUBLE
RETURN price * (1 - CASE WHEN k % 3 = 0 THEN 0.10 ELSE 0.02 END)
""")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION dmrs_size_class(price DOUBLE)
RETURNS STRING
RETURN CASE WHEN price >= 200000 THEN 'large'
            WHEN price >= 50000 THEN 'medium'
            ELSE 'small' END
""")
    return spark.sql("""
SELECT o_orderpriority,
       dmrs_size_class(o_totalprice) AS size_class,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(dmrs_discount(o_totalprice, o_orderkey)), 2)
           AS total_discounted
FROM orders
GROUP BY o_orderpriority, dmrs_size_class(o_totalprice)
""")


@register(
    "merge_into_upsert",
    tags=("relational", "cdc"),
    oracle=f"""
WITH t AS (
  SELECT o_orderkey AS k,
         {to_cents_sql("o_totalprice")} AS cents
  FROM orders
),
s AS (
  SELECT CASE WHEN o_orderkey % 3 = 2 THEN o_orderkey + 30000000
              ELSE o_orderkey END AS k,
         CASE o_orderkey % 3 WHEN 0 THEN 'U' WHEN 1 THEN 'D'
              ELSE 'I' END AS op,
         CAST(round(o_totalprice * 110) AS BIGINT) AS new_cents
  FROM orders WHERE o_orderkey % 7 = 0
),
merged AS (
  SELECT CASE
           WHEN s.k IS NULL THEN 'kept'
           WHEN t.k IS NULL THEN 'inserted'
           WHEN s.op = 'U' THEN 'updated'
           WHEN s.op = 'D' THEN 'deleted'
           ELSE 'kept'
         END AS action,
         CASE
           WHEN s.k IS NULL THEN t.cents
           WHEN t.k IS NULL THEN s.new_cents
           WHEN s.op = 'U' THEN s.new_cents
           WHEN s.op = 'D' THEN NULL
           ELSE t.cents
         END AS cents
  FROM t FULL OUTER JOIN s ON t.k = s.k
)
SELECT action,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(coalesce(cents, 0)) AS BIGINT) AS sum_cents
FROM merged
GROUP BY action
""",
)
def merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN MATCHED DELETE /
    WHEN NOT MATCHED INSERT) expressed as a single full-outer join — the
    Spark-first equivalent of a Delta/Iceberg row-level MERGE when no
    transactional table format is mounted. The changes feed is derived
    deterministically from the snapshot (1/7 of keys: op cycles
    update/delete/insert-at-new-key), and the result audits each action
    class by row count and an exact integer-cents checksum.

    Scale shape: one shuffle on the merge key for both sides (AQE picks
    broadcast when the change batch is small — the common case); action
    classification is a map-stage CASE; the audit agg is partial. On a
    real lakehouse this plan IS what MERGE compiles to, minus the
    file-rewrite commit.
    """
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_orderkey").alias("k"),
        to_cents("o_totalprice").alias("cents"),
    )
    s = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.when(F.col("o_orderkey") % 3 == 2, F.col("o_orderkey") + 30000000)
        .otherwise(F.col("o_orderkey"))
        .alias("k"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("U"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("D"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.round(F.col("o_totalprice") * 110).cast("bigint").alias("new_cents"),
    )
    m = t.join(s, "k", "full_outer")
    action = (
        F.when(F.col("op").isNull(), F.lit("kept"))
        .when(F.col("cents").isNull(), F.lit("inserted"))
        .when(F.col("op") == "U", F.lit("updated"))
        .when(F.col("op") == "D", F.lit("deleted"))
        .otherwise(F.lit("kept"))
    )
    cents = (
        F.when(F.col("op").isNull(), F.col("cents"))
        .when(F.col("cents").isNull(), F.col("new_cents"))
        .when(F.col("op") == "U", F.col("new_cents"))
        .when(F.col("op") == "D", F.lit(None).cast("bigint"))
        .otherwise(F.col("cents"))
    )
    return (
        m.select(action.alias("action"), cents.alias("c"))
        .groupBy("action")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce("c", F.lit(0))).cast("bigint").alias("sum_cents"),
        )
    )


@register(
    "sql_identifier_dynamic",
    tags=("sql",),
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(c_acctbal), 4) AS avg_bal
FROM customer
GROUP BY c_mktsegment
""",
)
def sql_identifier_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic object names via the IDENTIFIER() clause (Spark 4): the
    table AND the grouping column arrive as bind parameters, resolved by
    the analyzer into ordinary catalog references — the injection-safe
    form of the string-built SQL that multi-tenant report generators
    emit (`EXECUTE IMMEDIATE` covers dynamic STATEMENTS; this covers
    dynamic NAMES inside a static statement). The compiled plan is
    byte-identical to writing the names literally, so optimization is
    unaffected."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """SELECT IDENTIFIER(:col) AS c_mktsegment,
                  CAST(count(*) AS BIGINT) AS n,
                  round(avg(IDENTIFIER(:balcol)), 4) AS avg_bal
           FROM IDENTIFIER(:tbl)
           GROUP BY IDENTIFIER(:col)""",
        args={"col": "c_mktsegment", "balcol": "c_acctbal", "tbl": "customer"},
    )


@register(
    "agg_listagg_within_group",
    tags=("agg", "sql"),
    oracle="""
SELECT p_size,
       string_agg(p_brand, '|' ORDER BY p_brand) AS brands,
       CAST(count(*) AS BIGINT) AS n_brands
FROM (SELECT DISTINCT p_size, p_brand FROM part)
GROUP BY p_size
""",
)
def agg_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(DISTINCT …) WITHIN GROUP (ORDER BY …) — the ISO
    SQL:2016 ordered string aggregate added natively in Spark 4 (the
    engine-level twin of `agg_string_concat_groups`' concat_ws ∘
    sort_array ∘ collect_list spelling). The distinct set is
    built by a pre-aggregated subquery rather than LISTAGG(DISTINCT …):
    mixing a DISTINCT ListAgg with any other distinct aggregate trips a
    ClassCastException in Spark 4.1's RewriteDistinctAggregates
    (ListAgg.withNewChildrenInternal expects SortOrder children), and
    the pre-distinct form is also the scalable plan — the dedup runs
    map-side-partial before the string sort. Safe exactly because the
    per-group set is bounded (≤25 brands per size; an unbounded
    LISTAGG is a one-row OOM at 100 TB)."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """SELECT p_size,
                  listagg(p_brand, '|') WITHIN GROUP (ORDER BY p_brand) AS brands,
                  CAST(count(*) AS BIGINT) AS n_brands
           FROM (SELECT DISTINCT p_size, p_brand FROM part)
           GROUP BY p_size"""
    )


@register(
    "sql_transpose_frame",
    tags=("sql", "reporting"),
    oracle=f"""
WITH s AS (
  SELECT l_returnflag,
         -- qty is integral: its double sum is exact at every scale.
         -- price runs in exact cents (r10 sf10 stride catch — the
         -- round(sum(double)) class: at 100x the sum passes 1e12 where
         -- double ULP exceeds a cent and engines' round(x, 2) splits)
         round(sum(l_quantity), 2) AS sum_qty,
         sum({to_cents_sql("l_extendedprice")}) / 100.0 AS sum_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT 'sum_qty' AS key,
       max(CASE WHEN l_returnflag = 'A' THEN sum_qty END) AS A,
       max(CASE WHEN l_returnflag = 'N' THEN sum_qty END) AS N,
       max(CASE WHEN l_returnflag = 'R' THEN sum_qty END) AS R
FROM s
UNION ALL
SELECT 'sum_price',
       max(CASE WHEN l_returnflag = 'A' THEN sum_price END),
       max(CASE WHEN l_returnflag = 'N' THEN sum_price END),
       max(CASE WHEN l_returnflag = 'R' THEN sum_price END)
FROM s
""",
)
def sql_transpose_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.transpose()` (Spark 4.0): flip a small summary frame
    so metrics become rows and group values become columns — the
    report-layout verb spreadsheets call TRANSPOSE and pandas calls
    `.T` (the oracle spells it as the manual conditional-aggregation
    pivot it desugars to). Only valid on driver-small frames: transpose
    must read the index column's values to MAKE them column names (one
    collect of a 3-row aggregate here). The heavy lifting — the
    groupBy feeding it — stays fully distributed; never transpose a
    data-sized frame."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        # exact-cents price sum (r10 sf10 stride catch; rule-(a) re-row):
        # see the oracle comment
        (
            F.sum(to_cents("l_extendedprice"))
            / F.lit(100.0)
        ).alias("sum_price"),
    )
    return s.transpose()


@register(
    "sql_lateral_column_alias",
    tags=("sql",),
    oracle=f"""
WITH s AS (
  SELECT o_orderpriority,
         sum({to_cents_sql("o_totalprice")}) AS cents,
         count(*) AS n
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       cents / 100.0 AS total,
       ((cents + 5) // 10) / 100.0 AS fee,
       round(((cents + 5) // 10) * 100.0 / n) / 10000.0 AS fee_per_order
FROM s
""",
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): later SELECT items reference
    EARLIER aliases in the same list (`fee_cents` builds on `cents`,
    `fee` on `fee_cents`, `fee_per_order` on both) — the
    spreadsheet-style derived-column chain that otherwise forces nested
    subqueries or repeated expressions. The analyzer inlines the chain,
    so the optimized plan is identical to writing each expression in
    full (the oracle spells that desugared form; DuckDB resolves the
    same aliases natively). One hash aggregate; the alias chain is pure
    projection.

    r9 (caught by the sf10 stride): the money chain runs in EXACT
    integer cents — `round(sum(double), 2)` diverged cross-engine at
    sf10 magnitudes (~7.5e11, where a double's decimal grain is coarser
    than cents and the summation order differs). Every emitted value is
    exact-integer / 10^k, the repo's agg_salted_skew discipline; the
    10% fee rounds half-up in integer space ((cents+5) div 10)."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""SELECT o_orderpriority, total, fee, fee_per_order FROM (
             SELECT o_orderpriority,
                    sum({to_cents_sql("o_totalprice")}) AS cents,
                    count(*) AS n,
                    -- 100.0D: double literals — Spark's bare 100.0 is a
                    -- DECIMAL literal and bigint/decimal division emits
                    -- decimal(38,6), which renders 'x.240000' vs the
                    -- oracle's float64 'x.24' (the r8 stride's
                    -- decimal-divisor class)
                    cents / 100.0D AS total,
                    (cents + 5) div 10 AS fee_cents,
                    fee_cents / 100.0D AS fee,
                    round(fee_cents * 100.0D / n) / 10000.0D AS fee_per_order
             FROM orders
             GROUP BY o_orderpriority)"""
    )


@register(
    "agg_ordered_set_aggs",
    tags=("agg", "sql"),
    oracle="""
WITH qc AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, count(*) AS c
  FROM lineitem GROUP BY 1, 2
), mx AS (
  SELECT l_returnflag, max(c) AS mc FROM qc GROUP BY 1
), md AS (
  SELECT qc.l_returnflag, min(qc.q) AS modal_qty
  FROM qc JOIN mx ON qc.l_returnflag = mx.l_returnflag AND qc.c = mx.mc
  GROUP BY qc.l_returnflag
)
SELECT l.l_returnflag,
       CAST(quantile_disc(CAST(l.l_quantity AS BIGINT), 0.5) AS DOUBLE) AS p50_disc,
       round(quantile_cont(CAST(l.l_quantity AS BIGINT), 0.5), 4) AS p50_cont,
       CAST(quantile_disc(CAST(l.l_quantity AS BIGINT), 0.9) AS DOUBLE) AS p90_disc,
       CAST(any_value(md.modal_qty) AS BIGINT) AS modal_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem l JOIN md ON md.l_returnflag = l.l_returnflag
GROUP BY l.l_returnflag
""",
)
def agg_ordered_set_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO ordered-set aggregates (SQL:2008 surface, native in Spark
    3.4+): PERCENTILE_DISC — the p-th value ACTUALLY PRESENT in the
    data (disc never interpolates, so it stays meaningful for discrete
    domains like latencies-in-ms or quantities) — beside
    PERCENTILE_CONT, with the modal quantity alongside. Disc picks an
    exact data value on both engines, so no float interpolation can
    disagree. The mode is computed EXPLICITLY as min-value-of-max-count
    (round 6: the third-scale sf0.001 gate caught returnflag N's modal
    quantity TIED between 43 and 47, and native mode() breaks ties
    engine-arbitrarily — Spark picked 43, DuckDB 47; the docstring's
    old uniqueness assumption only held at sf0.01+; `agg_mode_per_group`
    documents the same tie-break). One sort-based aggregate pass per
    group plus a count-grain mode lookup."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """WITH qc AS (
             SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, count(*) AS c
             FROM lineitem GROUP BY 1, 2
           ), mx AS (
             SELECT l_returnflag, max(c) AS mc FROM qc GROUP BY 1
           ), md AS (
             SELECT qc.l_returnflag, min(qc.q) AS modal_qty
             FROM qc JOIN mx ON qc.l_returnflag = mx.l_returnflag AND qc.c = mx.mc
             GROUP BY qc.l_returnflag
           )
           SELECT l.l_returnflag,
                  percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(l.l_quantity AS BIGINT)) AS p50_disc,
                  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(l.l_quantity AS BIGINT)), 4) AS p50_cont,
                  percentile_disc(0.9) WITHIN GROUP (ORDER BY CAST(l.l_quantity AS BIGINT)) AS p90_disc,
                  CAST(any_value(md.modal_qty) AS BIGINT) AS modal_qty,
                  CAST(count(*) AS BIGINT) AS n
           FROM lineitem l JOIN md ON md.l_returnflag = l.l_returnflag
           GROUP BY l.l_returnflag"""
    )


@register(
    "analytics_mrr_movements",
    tags=("analytics", "reporting"),
    oracle=f"""
WITH monthly AS (
  SELECT o_custkey AS cust,
         CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT) AS m,
         {to_cents_sql("sum(o_totalprice)")} AS cents
  FROM orders GROUP BY 1, 2
), months AS (
  SELECT DISTINCT m FROM monthly
), custs AS (
  SELECT DISTINCT cust FROM monthly
), grid AS (
  SELECT c.cust, mo.m, coalesce(x.cents, 0) AS cents
  FROM custs c CROSS JOIN months mo
  LEFT JOIN monthly x ON x.cust = c.cust AND x.m = mo.m
), moved AS (
  SELECT cust, m, cents,
         lag(cents) OVER (PARTITION BY cust ORDER BY m) AS prev
  FROM grid
)
SELECT m AS month_idx,
       CAST(sum(CASE WHEN prev IS NOT NULL AND prev = 0 AND cents > 0 THEN cents ELSE 0 END) AS BIGINT) AS new_cents,
       CAST(sum(CASE WHEN prev > 0 AND cents > prev THEN cents - prev ELSE 0 END) AS BIGINT) AS expansion_cents,
       CAST(sum(CASE WHEN prev > 0 AND cents > 0 AND cents < prev THEN prev - cents ELSE 0 END) AS BIGINT) AS contraction_cents,
       CAST(sum(CASE WHEN prev > 0 AND cents = 0 THEN prev ELSE 0 END) AS BIGINT) AS churned_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(count(*) FILTER (WHERE cents > 0) AS BIGINT) AS active_custs
FROM moved
WHERE prev IS NOT NULL
GROUP BY m
""",
)
def analytics_mrr_movements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurring-revenue movement waterfall: per month, how much revenue
    was NEW (customer inactive → active), EXPANSION (spend up), 
    CONTRACTION (down), CHURNED (active → zero) — the SaaS board slide,
    which needs DENSE calendarization first (a churned month has no
    order row, so the customer×month grid is cross-joined in and
    zero-filled before the lag compare; without the grid, churn is
    systematically invisible). Money stays integer cents. Scale shape:
    the grid is |customers|×|months| — months is a tiny broadcast spine,
    so the grid join is a broadcast nested loop over the customer list,
    then one (cust) window and one month rollup."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_custkey").alias("cust"),
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
        .cast("bigint")
        .alias("m"),
    ).agg(to_cents(F.sum("o_totalprice")).alias("cents"))
    months = monthly.select("m").distinct()
    custs = monthly.select("cust").distinct()
    grid = (
        custs.crossJoin(F.broadcast(months))
        .join(monthly, ["cust", "m"], "left")
        .withColumn("cents", F.coalesce(F.col("cents"), F.lit(0)))
    )
    w = Window.partitionBy("cust").orderBy("m")
    moved = grid.withColumn("prev", F.lag("cents").over(w)).filter(
        F.col("prev").isNotNull()
    )
    cents, prev = F.col("cents"), F.col("prev")
    return moved.groupBy(F.col("m").alias("month_idx")).agg(
        F.sum(F.when((prev == 0) & (cents > 0), cents).otherwise(0))
        .cast("bigint").alias("new_cents"),
        F.sum(F.when((prev > 0) & (cents > prev), cents - prev).otherwise(0))
        .cast("bigint").alias("expansion_cents"),
        F.sum(F.when((prev > 0) & (cents > 0) & (cents < prev), prev - cents).otherwise(0))
        .cast("bigint").alias("contraction_cents"),
        F.sum(F.when((prev > 0) & (cents == 0), prev).otherwise(0))
        .cast("bigint").alias("churned_cents"),
        F.sum(cents).cast("bigint").alias("total_cents"),
        F.count(F.when(cents > 0, 1)).cast("bigint").alias("active_custs"),
    )


@register(
    "agg_grouping_id",
    tags=("agg", "sql"),
    oracle=f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       sum({to_cents_sql("o_totalprice")}) / 100.0 AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/grouping-id disambiguation for ROLLUP levels: a NULL
    in a rollup row is ambiguous (is it the subtotal level, or a NULL
    data value?) — GROUPING() answers authoritatively, and the packed
    gid = g(status)·2 + g(priority) names the level (0=leaf,
    1=status subtotal, 3=grand total). The COALESCE relabeling is safe
    here exactly BECAUSE gid is also emitted — consumers group on gid,
    not on the sentinel string. Same single-pass Expand as plain
    rollup; one extra virtual column. Total is the exact integer-cents
    sum divided once (sf1-gate fix, see agg_grouping_sets)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("bigint")
            .alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (
                F.sum(to_cents("o_totalprice")) / 100.0
            ).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "total",
        )
    )


@register(
    "sql_row_level_security",
    tags=("sql", "privacy"),
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS total
FROM orders
WHERE o_custkey % 10 = 3
""",
)
def sql_row_level_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security via a session variable + secured view: the
    tenant claim lives in a SQL session variable, the VIEW bakes the
    predicate `o_custkey % 10 = current tenant`, and consumers query
    only the view — the RLS pattern warehouses (and Spark's
    fine-grained-access layers) implement, expressed in pure engine
    surfaces (DECLARE VARIABLE + CREATE TEMPORARY VIEW). The predicate
    reaches the scan through the view, so tenant isolation is also
    partition/row-group pruning when data is laid out by tenant — RLS
    and I/O pruning are the same mechanism here. The oracle is the
    statically-filtered query the view must be indistinguishable
    from."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE dmrs_tenant INT")
    spark.sql("SET VAR dmrs_tenant = 3")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW orders_rls AS
           SELECT * FROM orders WHERE o_custkey % 10 = dmrs_tenant"""
    )
    return spark.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus,
                  round(o_totalprice, 2) AS total
           FROM orders_rls"""
    )


@register(
    "relational_skyline_frontier",
    tags=("relational", "analytics"),
    oracle=f"""
WITH pts AS (
  SELECT p_partkey, {to_cents_sql("p_retailprice")} AS price_cents,
         CAST(p_size AS BIGINT) AS p_size
  FROM part
), grp AS (
  SELECT price_cents, max(p_size) AS gmax
  FROM pts GROUP BY price_cents
), sweep AS (
  SELECT price_cents, gmax,
         max(gmax) OVER (ORDER BY price_cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_best
  FROM grp
)
SELECT p.p_partkey, p.price_cents, p.p_size
FROM pts p JOIN sweep s ON s.price_cents = p.price_cents
WHERE p.p_size = s.gmax
  AND (s.prev_best IS NULL OR s.prev_best < p.p_size)
""",
)
def relational_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query — the multi-criteria SELECT the
    reference's max/min aggregates (`/root/reference/test/mr.test.js:100-155`)
    cannot ask: the set of parts no other part dominates on
    (cheaper-or-equal price, bigger-or-equal size, strict somewhere).
    Borzsony/Kossmann's BNL/SFS algorithms are nested loops; the
    Spark-first form is the SORT-FILTER SWEEP collapsed to one window:
    aggregate to the price grain (map-side combined — |distinct prices|
    << |parts|), running-max of group-best size over strictly cheaper
    prices, keep a row iff it tops its own price group AND strictly
    beats every cheaper group's best. Dominance never materializes a
    pair join, and the output is bounded by |distinct sizes| (<= 50
    here) whatever the input cardinality. Prices compare as exact
    integer cents, so the frontier is bit-identical on both engines.

    Scale: one exchange to the price grain, one bounded sweep over
    distinct prices (a value-sorted frame orders of magnitude smaller
    than the fact table), one broadcast-sized join back. A 3-D skyline
    composes the same sweep inside each value of the third criterion."""
    from pyspark.sql import Window as W

    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        to_cents("p_retailprice").alias("price_cents"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    grp = pts.groupBy("price_cents").agg(F.max("p_size").alias("gmax"))
    sweep = grp.withColumn(
        "prev_best",
        F.max("gmax").over(
            W.orderBy("price_cents").rowsBetween(W.unboundedPreceding, -1)  # frame: bounded (distinct-price grain, fixed value range)
        ),
    )
    return (
        pts.join(sweep, "price_cents")
        .where(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("prev_best").isNull() | (F.col("prev_best") < F.col("p_size")))
        )
        .select("p_partkey", "price_cents", "p_size")
    )
