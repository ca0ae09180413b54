"""Bucketed co-located join: values match the direct join AND the
physical plan has no shuffle on the join path (the 100 TB property), and
rebuilding the query leaves an earlier build's frame readable."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from distributed_map_reduce_spark.registry import all_queries


def test_bucketed_join_no_exchange(spark, sf_dir):
    build = all_queries()["bucketed_join_colocated"].fn
    first = build(spark, sf_dir)
    df = build(spark, sf_dir)

    def by_priority(frame):
        return {
            r["o_orderpriority"]: (r["n_lines"], r["revenue"]) for r in frame.collect()
        }

    got = by_priority(df)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {
        r["o_orderpriority"]: (r["n_lines"], r["revenue"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
        .collect()
    }
    assert got == want
    # the second build rewrote both tables; the first frame still reads
    # the files it was planned over
    assert by_priority(first) == want

    # the join itself must read co-located buckets: the only Exchange in
    # the plan belongs to the final aggregation, never between the scans
    # and the SortMergeJoin
    # disable broadcast so the small sf doesn't sidestep the property
    # under test (at 100 TB neither fact side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lb = spark.table("dmrs_buckets.lineitem_b")
        ob = spark.table("dmrs_buckets.orders_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
