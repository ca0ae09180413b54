"""Skew-mitigation operators: salted two-stage aggregation and a salted
broadcast-replicated join.

AQE's skew-join splitting handles sort-merge skew automatically
(session.py turns it on); salting is the explicit form for (a) skewed
*aggregations*, which AQE does not split, and (b) deliberate key
spreading when one key dominates (the 100 TB "hot user" problem).

Correctness is oracle-provable because salting is algebraic: stage 1
aggregates (key, salt) partials, stage 2 merges partials per key —
identical results to the direct group-by, by associativity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table

N_SALTS = 16


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Two-stage skew-proof aggregation. ``aggs`` maps output column →
    (input column, fn) with fn ∈ {sum, count, min, max}; all are
    algebraic, so partial-per-salt then merge-per-key is exact.

    Stage 1 shuffles on (key, salt) — a hot key spreads over n_salts
    reducers; stage 2 shuffles n_salts rows per key, negligible."""
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    part_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}

    def _pcol(col: str, fn: str) -> Column:
        return part_fn[fn](F.lit(1) if fn == "count" else F.col(col))

    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    partial = salted.groupBy(key, "_salt").agg(
        *[_pcol(c, fn).alias(f"_p_{out}") for out, (c, fn) in aggs.items()]
    )
    return partial.groupBy(key).agg(
        *[merge_fn[fn](f"_p_{out}").alias(out) for out, (c, fn) in aggs.items()]
    )


@register(
    "agg_salted_skew",
    tags=("agg", "skew"),
    oracle=f"""
SELECT l_returnflag,
       -- exact cents sum, one shared /100.0 (r8 sf10-stride catch: the
       -- raw double sum's accumulation drift crossed the 2dp grain at
       -- ~20M rows/group, the same class as agg_aging_buckets at r7)
       sum({to_cents_sql("l_extendedprice")}) / 100.0 AS total_price,
       count(*) AS n,
       round(max(l_quantity), 2) AS max_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted aggregation on a 3-value key (maximal skew: every key is
    hot). The oracle is the direct group-by — algebraically identical."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn(
            "_price_cents", to_cents("l_extendedprice")
        )
        # count(*) parity: count a literal, not a value column — Spark's
        # count skips nulls, so counting _price_cents would diverge from
        # the oracle's count(*) on any fixture with null prices
        # (ADVICE r8; TPC-H happens to be NOT NULL, this removes the
        # latent dependence on that).
        .withColumn("_one", F.lit(1))
    )
    out = salted_agg(
        li,
        "l_returnflag",
        {
            "total_price_cents": ("_price_cents", "sum"),
            "n": ("_one", "count"),
            "max_qty": ("l_quantity", "max"),
        },
    )
    return out.select(
        "l_returnflag",
        (F.col("total_price_cents") / 100.0).alias("total_price"),
        "n",
        F.round("max_qty", 2).alias("max_qty"),
    )


@register(
    "join_salted_skew",
    tags=("join", "skew"),
    oracle=f"""
SELECT o_orderpriority,
       count(*) AS n_lines,
       -- exact cents sum (same r8 sf10 drift class as agg_salted_skew)
       sum({to_cents_sql("l_extendedprice")}) / 100.0 AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-and-replicate join: the big side salts its key, the small
    side replicates each row n_salts times — a hot join key spreads over
    n_salts reducers. Results identical to the plain join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    n = N_SALTS
    big = li.withColumn("_salt", (F.rand(seed=7) * n).cast("int"))
    small = o.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
    return (
        big.join(small, (big.l_orderkey == small.o_orderkey) & (big._salt == small._salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(to_cents("l_extendedprice"))
                / 100.0
            ).alias("total_price"),
        )
    )


@register(
    "join_hot_cold_split",
    tags=("join", "skew"),
    oracle=f"""
WITH hot AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 20
)
SELECT o.o_custkey,
       CASE WHEN h.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_hot,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({to_cents_sql("o.o_totalprice")}) AS BIGINT)
         AS total_cents,
       max(c.c_mktsegment) AS segment
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN hot h ON o.o_custkey = h.o_custkey
GROUP BY o.o_custkey, 2
""",
)
def join_hot_cold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot/cold key isolation — the THIRD skew technique alongside
    salting ([[join_salted_skew]]) and AQE skew splitting: keys above a
    frequency threshold take the broadcast path (the dim rows for hot
    keys are tiny by definition — bounded by the hot-key count), cold
    keys take the ordinary shuffled join, and the union is provably
    the plain join (the oracle IS the plain join). At 100 TB this is
    the pattern for the 'one hot user is 5% of events' join that
    salting spreads but still shuffles: the hot side never enters the
    exchange at all. The is_hot flag in the output doubles as the
    audit of how much volume the broadcast path absorbed."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    hot_keys = counts.filter(F.col("cnt") > 20).select("o_custkey")
    o_flag = o.join(F.broadcast(hot_keys.withColumn("is_hot", F.lit(1))),
                    "o_custkey", "left").fillna({"is_hot": 0})
    hot_dim = c.join(
        F.broadcast(hot_keys.withColumnRenamed("o_custkey", "c_custkey")),
        "c_custkey",
        "left_semi",
    )
    hot_join = o_flag.filter(F.col("is_hot") == 1).join(
        F.broadcast(hot_dim), F.col("o_custkey") == F.col("c_custkey")
    )
    cold_join = o_flag.filter(F.col("is_hot") == 0).join(
        c, F.col("o_custkey") == F.col("c_custkey")
    )
    both = hot_join.unionByName(cold_join)
    return both.groupBy("o_custkey", "is_hot").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(to_cents("o_totalprice"))
        .cast("bigint")
        .alias("total_cents"),
        F.max("c_mktsegment").alias("segment"),
    )
