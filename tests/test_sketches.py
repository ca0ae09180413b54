"""Mechanism tests for the portable-hash sketches (sketches.py) and the
round-4 dedup/similarity additions — planted inputs with known answers,
complementing the differential oracle gate (which proves Spark==DuckDB
but not that either equals the textbook definition)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from distributed_map_reduce_spark.functions.hashing import md5_int
from distributed_map_reduce_spark.operators.sketches import (
    CMS_D,
    CMS_W,
    HASH_SPACE,
    KMV_K,
)
from distributed_map_reduce_spark.operators.similarity import (
    DIM,
    RP_DIM,
    _rp_plane,
)


def _py_md5_int60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_md5_int60_matches_python(spark):
    df = spark.createDataFrame([("alpha",), ("beta",), ("",)], "w string")
    got = {r["w"]: r["h"] for r in df.select("w", md5_int(F.col("w")).alias("h")).collect()}
    for w in ("alpha", "beta", ""):
        assert got[w] == _py_md5_int60(w)


def test_kmv_estimate_on_fixture(spark, sf_dir):
    """KMV on the real fixture. sf0.001's vocabulary is smaller than k,
    which exercises the exact-regime branch: the sketch holds every
    distinct hash, so the estimate IS the true count. At k <= D the
    order-statistic formula applies with ~1/sqrt(k) error."""
    from distributed_map_reduce_spark.registry import all_queries

    row = all_queries()["sketch_kmv_distinct"].fn(spark, sf_dir).collect()[0]
    assert row["est_distinct"] > 0
    if row["k_seen"] < KMV_K:  # exact regime
        assert row["est_distinct"] == row["true_distinct"] == row["k_seen"]
        assert row["rel_err"] == 0.0
    else:  # estimation regime: 3-sigma envelope, sigma ~ D/sqrt(k-2)
        assert row["rel_err"] < 3.0 / math.sqrt(KMV_K - 2)


def test_kmv_estimation_regime_planted(spark):
    """Planted 5000-distinct-token corpus (> k): the order-statistic
    estimate must land within the 3-sigma KMV envelope of 5000."""
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i * 10, i * 10 + 10)))
         for i in range(500)],
        "doc_id long, text string",
    )
    from distributed_map_reduce_spark.registry import all_queries

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        row = all_queries()["sketch_kmv_distinct"].fn(spark, d).collect()[0]
    assert row["k_seen"] == KMV_K
    assert row["true_distinct"] == 5000
    assert row["rel_err"] < 3.0 / math.sqrt(KMV_K - 2)


def test_cms_never_undercounts(spark, sf_dir):
    from distributed_map_reduce_spark.registry import all_queries

    rows = all_queries()["sketch_countmin_heavy_hitters"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_estimate"] >= r["true_count"]
        assert r["overcount"] == r["cms_estimate"] - r["true_count"]


def test_cms_bucket_is_uniformish(spark):
    """The d×w bucket layout must spread distinct tokens: hash 1000
    distinct tokens into row 0 and require every load factor question
    stays sane (no bucket grabs >5% of the mass)."""
    toks = spark.createDataFrame([(f"tok{i}",) for i in range(1000)], "w string")
    buckets = toks.select(
        (md5_int(F.concat(F.lit("0:"), F.col("w"))) % CMS_W).alias("b")
    )
    top = buckets.groupBy("b").count().agg(F.max("count")).collect()[0][0]
    assert top <= 50  # 5% of 1000; uniform expectation ~1


def test_duplicate_ngram_spans_counts_positions_cross_doc(spark):
    """Positional cross-document duplication: doc 1 (para + filler) is
    fully contained in doc 2 (para x3 + filler), so EVERY one of doc 1's
    gram positions is a cross-doc dup (fraction 1.0). Doc 2's three para
    copies each count as dup positions (the positional property that
    distinguishes this from set Jaccard), but its para->para seam grams
    exist in no other doc, so its fraction sits strictly between 0.5 and
    1. Doc 3 shares nothing."""
    from distributed_map_reduce_spark.operators.dedup import (
        dedup_duplicate_ngram_spans,
    )

    para = "one two three four five six seven eight nine ten"
    filler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"{para} {filler}"),
            (2, f"{para} {para} {para} {filler}"),
            (3, "lone words that no other document shares at all here ok"),
        ],
        "doc_id long, text string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["doc_id"]: r for r in dedup_duplicate_ngram_spans(spark, d).collect()
        }
    assert out[1]["dup_fraction"] == 1.0 and out[1]["flag_heavy_dup"] == 1
    assert 0.5 <= out[2]["dup_fraction"] < 1.0
    assert out[2]["flag_heavy_dup"] == 1
    # positional counting: doc 2's dup positions exceed doc 1's total
    assert out[2]["dup_spans"] > out[1]["n_spans"]
    assert out[3]["dup_spans"] == 0 and out[3]["flag_heavy_dup"] == 0


def test_rp_planes_are_pm1_and_distinct_from_lsh():
    from distributed_map_reduce_spark.operators.similarity import hyperplane

    for j in range(RP_DIM):
        p = _rp_plane(j)
        assert len(p) == DIM and set(p) <= {1, -1}
    # distinct salt => not the LSH planes
    assert _rp_plane(0) != hyperplane(0)


def test_rp_distortion_near_one(spark, sf_dir):
    """JL with k=8 is coarse, but the median distortion over the audit
    pairs should still hover around 1 (unbiasedness), not collapse."""
    from distributed_map_reduce_spark.registry import all_queries

    rows = all_queries()["similarity_random_projection_audit"].fn(spark, sf_dir).collect()
    assert rows, "audit produced no pairs"
    ds = sorted(r["distortion"] for r in rows)
    median = ds[len(ds) // 2]
    assert 0.5 < median < 1.5


def test_linear_counting_regimes(spark, sf_dir):
    """Occupancy estimate: exact when every value lands in its own
    bucket is not guaranteed, but est must be >= filled and within the
    published envelope for D << m*ln(m)."""
    from distributed_map_reduce_spark.registry import all_queries

    row = all_queries()["sketch_linear_counting"].fn(spark, sf_dir).collect()[0]
    assert 0 < row["filled"] <= row["true_distinct"]
    assert row["est_distinct"] >= row["filled"]
    # sf fixtures sit far below m*ln(m) ~ 34k: expect a tight estimate
    assert row["rel_err"] < 0.1


def test_kmv_set_ops_estimates_vs_truth(spark, sf_dir):
    from distributed_map_reduce_spark.registry import all_queries

    row = all_queries()["sketch_kmv_set_ops"].fn(spark, sf_dir).collect()[0]
    assert 0 <= row["est_jaccard"] <= 1
    assert row["k_both"] <= row["k_seen"]
    # exact regime (small fixture vocab): estimates collapse to truth
    if row["k_seen"] < KMV_K:
        assert row["est_jaccard"] == row["true_jaccard"]
        assert row["est_intersection"] == row["true_intersection"]


def test_weighted_priority_prefers_heavy_docs(spark, sf_dir):
    """Inclusion probability must rise with weight: the sampled docs'
    mean n_chars should exceed the corpus mean (length-weighted draw)."""
    from distributed_map_reduce_spark.registry import all_queries
    from distributed_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F2

    sample = all_queries()["sample_weighted_priority"].fn(spark, sf_dir)
    samp_mean = sample.agg(F2.avg("n_chars")).collect()[0][0]
    corp_mean = (
        load_table(spark, sf_dir, "documents")
        .filter(F2.col("n_chars") > 0)
        .agg(F2.avg("n_chars"))
        .collect()[0][0]
    )
    assert samp_mean > corp_mean


def test_feature_hashing_exact_integer_embedding(spark):
    """Known tokens: weight of a dim = sum of signs of tokens hashed
    there; two copies of the same token always land together, so a doc
    of one repeated token has exactly one nonzero cell of |weight| 2."""
    from distributed_map_reduce_spark.registry import all_queries
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(1, "zebra zebra"), (2, "")], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        rows = all_queries()["text_feature_hashing"].fn(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 1 and abs(r["weight"]) == 2
    assert 0 <= r["dim"] < 16


def test_top_paths_orders_within_session(spark):
    """One user, two sessions split by a >30min gap; paths must respect
    (ts, event_id) order inside each session."""
    from distributed_map_reduce_spark.registry import all_queries
    import datetime as dt
    import os
    import tempfile

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 7, "click", 1.0, "{}"),
        # same ts as event 2 -> event_id breaks the tie
        (3, t0 + dt.timedelta(minutes=1), 7, "purchase", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=45), 7, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r["path"]: r["n_sessions"]
            for r in all_queries()["events_top_paths"].fn(spark, d).collect()
        }
    assert got == {"view>click>purchase": 1, "view": 1}
