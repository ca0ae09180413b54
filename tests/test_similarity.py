"""ANN correctness: brute-force matches numpy; LSH bucket probe finds a
planted near-identical vector (same bucket, top-1)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from distributed_map_reduce_spark.functions.vectors import as_double, cosine
from distributed_map_reduce_spark.operators.similarity import hyperplane, lsh_bucket, DIM


def _vec(seed: int) -> list[float]:
    # deterministic pseudo-random unit-ish vector without numpy RNG state
    return [math.sin(seed * 1000 + i) for i in range(DIM)]


def test_cosine_matches_math(spark):
    a, b = _vec(1), _vec(2)
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    dot = sum(x * y for x, y in zip(a, b))
    expected = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
    assert abs(got - expected) < 1e-9


def test_lsh_bucket_groups_near_identical(spark):
    base = _vec(7)
    near = [x + 1e-6 for x in base]
    far = [-x for x in base]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, v array<double>"
    )
    buckets = {r["vec_id"]: r["b"] for r in df.select("vec_id", lsh_bucket(F.col("v")).alias("b")).collect()}
    assert buckets[1] == buckets[2]  # tiny perturbation: same signature
    assert buckets[1] != buckets[3]  # antipode: complementary signature
    assert buckets[1] ^ buckets[3] == 2 ** len(range(8)) - 1  # all 8 bits flip


def test_hyperplanes_are_deterministic():
    assert hyperplane(0) == hyperplane(0)
    assert hyperplane(0) != hyperplane(1)
    assert all(w in (-1, 1) for w in hyperplane(3))


def test_adaptive_planes_empty_embeddings_give_zero_rows(spark, sf_dir, tmp_path):
    """A zero-row embeddings table has no corpus size or dim to adapt
    to: the query returns zero rows instead of failing on the probe."""
    import pyarrow.parquet as pq

    from distributed_map_reduce_spark.registry import queries

    src = pq.read_table(f"{sf_dir}/embeddings.parquet")
    pq.write_table(src.slice(0, 0), tmp_path / "embeddings.parquet")
    assert queries()["ann_lsh_adaptive_planes"](spark, str(tmp_path)).count() == 0
