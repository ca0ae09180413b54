"""Tests for the Spark-4-specific surfaces: VARIANT queries, the Python
DataSource API connector, the Arrow-optimized UDF path and the
compression-ratio kernel."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def test_variant_tolerant_ingest_counts(spark, sf_dir):
    """try_parse_json nulls exactly the rows we corrupt (event_id % 7)."""
    from distributed_map_reduce_spark.operators.semistructured import (
        variant_tolerant_ingest,
    )
    from distributed_map_reduce_spark.sources import load_table

    out = variant_tolerant_ingest(spark, sf_dir)
    totals = out.agg(
        F.sum("n_rows").alias("rows"), F.sum("n_corrupt").alias("bad")
    ).first()
    ev = load_table(spark, sf_dir, "events")
    want_bad = ev.filter(F.col("event_id") % 7 == 0).count()
    assert totals["rows"] == ev.count()
    assert totals["bad"] == want_bad > 0


def test_variant_nested_extract_matches_json_path(spark, sf_dir):
    """variant_get('$.meta.k') equals the plain get_json_object on props."""
    from distributed_map_reduce_spark.operators.semistructured import (
        variant_nested_extract,
    )
    from distributed_map_reduce_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.select(
            F.col("event_type").alias("etype"),
            (F.get_json_object("props", "$.k").cast("bigint") % 7).alias("k_bucket"),
        )
        .groupBy("etype", "k_bucket")
        .count()
    )
    got = variant_nested_extract(spark, sf_dir).select("etype", "k_bucket", "n")
    diff = got.join(
        want,
        ["etype", "k_bucket"],
    ).filter(F.col("n") != F.col("count"))
    assert diff.count() == 0


def test_python_datasource_partitions_and_rows(spark):
    """The custom source plans the requested partitions and generates
    exactly the md5-derived rows the oracle arithmetic predicts."""
    from distributed_map_reduce_spark.sources.pydatasource import (
        HashRangeReader,
        register_datasource,
    )

    reader = HashRangeReader({"rows": 100, "partitions": 8})
    parts = reader.partitions()
    assert len(parts) == 8
    assert sum(p.end - p.start for p in parts) == 100
    rows = list(reader.read(parts[0]))
    i, bucket, raw = rows[3]
    h = hashlib.md5(str(i).encode()).hexdigest()
    assert (bucket, raw) == (int(h[8:10], 16) % 16, int(h[:8], 16))

    register_datasource(spark)
    df = (
        spark.read.format("hash_range")
        .option("rows", 1000)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    assert df.agg(F.countDistinct("id")).first()[0] == 1000


def test_arrow_udf_entropy_accuracy(spark, sf_dir):
    """The Arrow-UDF entropy kernel is exact on known strings, and the
    registered query runs through the Arrow batch path."""
    import pandas as pd

    from distributed_map_reduce_spark.functions.udfs import (
        _char_entropy,
        udf_arrow_optimized,
    )

    vals = _char_entropy(pd.Series(["aaaa", "ab", "abcd", ""]))
    assert list(vals) == [0.0, 1.0, 2.0, 0.0]
    out = udf_arrow_optimized(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0 and all(r["avg_entropy"] > 0 for r in rows)


def test_compression_ratio_kernel(spark, sf_dir):
    """Repetitive text compresses far better than varied text, and the
    registered query produces sane per-source ratios."""
    from distributed_map_reduce_spark.operators.text import (
        _compression_ratio_one,
        text_compression_ratio,
    )

    rep = _compression_ratio_one("spam " * 400)
    varied = _compression_ratio_one(
        " ".join(f"w{i}x{i * 7 % 113}" for i in range(400))
    )
    assert rep < 0.05 < varied
    rows = text_compression_ratio(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(0 < r["avg_ratio"] <= 1.5 for r in rows)
