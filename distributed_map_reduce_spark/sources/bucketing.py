"""Bucketed tables: co-located, shuffle-free fact⋈fact joins.

The reference's placement model (key → node via a pluggable hash,
SURVEY.md §1.4) exists so that co-keyed data lands together. Spark's
durable form of that idea is *bucketing*: both fact tables are written
pre-hash-partitioned on the join key, so the sort-merge join reads
matching buckets pairwise and the Exchange disappears from the plan.

At 100 TB this converts the dominant lineitem⋈orders shuffle (the
single most expensive exchange in the TPC-H-shaped workload) into a
scan-side property paid once at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from . import load_table
from .scratch import scratch_dir

N_BUCKETS = 8


def write_bucketed(df: DataFrame, name: str, key: str, n_buckets: int = N_BUCKETS) -> None:
    """Persist a table bucketed+sorted on the join key (saveAsTable —
    bucket metadata lives in the session catalog). Each write goes to its
    own scratch dir, so replacing the table leaves a frame over the
    previous write readable."""
    (
        df.write.mode("overwrite")
        .option("path", scratch_dir("bucketed"))
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )


@register(
    "bucketed_join_colocated",
    tags=("join", "bucketing", "source"),
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem and orders bucketed on orderkey, then join the
    bucketed tables: same results as the direct join, but the join-side
    Exchanges vanish (asserted in tests/test_bucketing.py)."""
    if not spark.catalog.databaseExists("dmrs_buckets"):
        wh = scratch_dir("warehouse")
        spark.sql("CREATE DATABASE IF NOT EXISTS dmrs_buckets LOCATION '" + wh + "'")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, "dmrs_buckets.lineitem_b", "l_orderkey")
    write_bucketed(o, "dmrs_buckets.orders_b", "o_orderkey")
    lb = spark.table("dmrs_buckets.lineitem_b")
    ob = spark.table("dmrs_buckets.orders_b")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )
