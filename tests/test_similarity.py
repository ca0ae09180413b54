"""ANN correctness: brute-force matches numpy; LSH bucket probe finds a
planted near-identical vector (same bucket, top-1)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from distributed_map_reduce_spark.functions.vectors import cosine, norm, sq_l2
from distributed_map_reduce_spark.operators.similarity import (
    DIM,
    centroids,
    cosine_pairs,
    hyperplane,
    lsh_bucket,
)


def _vec(seed: int) -> list[float]:
    # deterministic pseudo-random unit-ish vector without numpy RNG state
    return [math.sin(seed * 1000 + i) for i in range(DIM)]


def test_cosine_matches_math(spark):
    a, b = _vec(1), _vec(2)
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(
        cosine(F.col("a"), F.col("b"), norm(F.col("a")), norm(F.col("b"))).alias("c")
    ).collect()[0]["c"]
    dot = sum(x * y for x, y in zip(a, b))
    expected = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
    assert abs(got - expected) < 1e-9


def test_centroids_match_python_means(spark):
    """Per-label mean vectors, dims in order — label 2 holds one vector,
    so its centroid is that vector."""
    rows = [(0, [1.0, 2.0, 3.0]), (0, [3.0, -2.0, 0.5]), (0, [2.0, 6.0, -1.0]),
            (1, [0.25, 0.5, 0.75]), (1, [-1.0, 1.0, 4.0]), (2, [7.0, -8.0, 9.0])]
    df = spark.createDataFrame(rows, "label long, v array<double>")
    got = {r["c_label"]: r["cv"] for r in centroids(df, "label").collect()}
    want = {}
    for lab in {lab for lab, _ in rows}:
        vs = [v for lab2, v in rows if lab2 == lab]
        want[lab] = [sum(col) / len(vs) for col in zip(*vs)]
    assert got.keys() == want.keys()
    for lab, cv in want.items():
        assert got[lab] == pytest.approx(cv, abs=1e-12)


def test_sq_l2_and_cosine_pairs_match_math(spark):
    """Three vectors in one bucket, two of them identical: each unordered
    pair appears once (ia < ib), squared L2 and the 6dp cosine match
    the pure-Python values, and the identical pair has cosine 1, L2 0."""
    a, b = _vec(1), _vec(2)
    vecs = {1: a, 2: b, 3: list(a)}
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()], "vec_id long, v array<double>, bucket int"
    )
    d2 = df.alias("x").join(df.alias("y"), F.col("x.vec_id") < F.col("y.vec_id")).select(
        F.col("x.vec_id").alias("i"), F.col("y.vec_id").alias("j"),
        sq_l2(F.col("x.v"), F.col("y.v")).alias("d2"),
    )
    for r in d2.collect():
        want = sum((x - y) ** 2 for x, y in zip(vecs[r["i"]], vecs[r["j"]]))
        assert abs(r["d2"] - want) < 1e-9
    got = {(r["ia"], r["ib"]): r["cos_sim"] for r in cosine_pairs(df, "bucket").collect()}
    assert sorted(got) == [(1, 2), (1, 3), (2, 3)]
    for (i, j), c in got.items():
        u, w = vecs[i], vecs[j]
        want = sum(x * y for x, y in zip(u, w)) / (
            math.sqrt(sum(x * x for x in u)) * math.sqrt(sum(y * y for y in w))
        )
        assert c == pytest.approx(want, abs=5e-7)
    assert got[(1, 3)] == 1.0


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
    to: the query and its DuckDB oracle both return zero rows instead of
    failing (the oracle on ``log2`` of a zero count)."""
    import duckdb
    import pyarrow.parquet as pq

    from distributed_map_reduce_spark.registry import oracle_sql, queries

    src = pq.read_table(f"{sf_dir}/embeddings.parquet")
    path = tmp_path / "embeddings.parquet"
    pq.write_table(src.slice(0, 0), path)
    assert queries()["ann_lsh_adaptive_planes"](spark, str(tmp_path)).count() == 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    assert con.execute(oracle_sql()["ann_lsh_adaptive_planes"]).fetchall() == []
