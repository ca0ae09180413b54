"""Recall/precision tests for the dedup operators on planted
near-duplicates (the driver's synthetic docs are random word-bags with no
real dups, so correctness-of-mechanism is proven here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_map_reduce_spark.operators.dedup import (
    SHINGLE_K,
    minhash_lsh_pairs,
    minhash_lsh_pairs_capped,
    minhash_star_pairs,
    shingle_rows,
    simhash_df,
    shingles_col,
    jaccard,
)
from distributed_map_reduce_spark.operators.graph import connected_components

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the old oak tree "
    "near the quiet river bank under the bright morning sun"
)
NEAR_DUP = BASE.replace("morning", "evening")  # one-word edit
UNRELATED = (
    "distributed query engines shuffle partitioned data across executors "
    "using hash exchanges broadcast joins adaptive execution and columnar "
    "scans with predicate pushdown over parquet row groups"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR_DUP), (3, UNRELATED), (4, BASE)],
        "doc_id long, text string",
    )


def test_minhash_lsh_finds_planted_dups(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact copy
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # one-word edit
    assert not any(3 in p for p in pairs)  # unrelated never pairs


def test_star_pairs_family_recall(spark):
    """The linear star-edge generator keeps FAMILY recall: a planted
    5-clone family (one exact + small edits of BASE) must end up fully
    connected via hub edges — same connectivity as the pair-quadratic
    generator — while emitting at most Σ(n−1) edges per bucket (here
    strictly fewer rows than the C(n,2) pair form)."""
    fam = [
        (1, BASE),
        (2, NEAR_DUP),
        (3, UNRELATED),
        (4, BASE),
        (5, BASE.replace("quick", "swift")),
        (6, BASE.replace("lazy", "sleepy")),
    ]
    docs = spark.createDataFrame(fam, "doc_id long, text string")
    star = minhash_star_pairs(docs).collect()
    edges = {(r["doc_a"], r["doc_b"]) for r in star}
    # union-find over star edges: the whole family {1,2,4,5,6} connects
    parent = {i: i for i, _ in fam}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    assert len({find(d) for d in (1, 2, 4, 5, 6)}) == 1
    assert not any(3 in e for e in edges)  # unrelated never joins
    # every verified star edge is also a verified bucket pair
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert edges <= pairs


def test_simhash_hamming_close_for_dups(spark):
    df = simhash_df(_docs(spark))
    sh = {r["doc_id"]: r["simhash"] for r in df.collect()}
    assert sh[1] == sh[4]
    assert bin(sh[1] ^ sh[2]).count("1") <= 6  # near-dup: small Hamming
    assert bin(sh[1] ^ sh[3]).count("1") > 6  # unrelated: far


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "b c d e")], "id long, text string")
    sh = df.select("id", shingles_col(F.col("text")).alias("s"))
    a = sh.filter("id=1").select(F.col("s").alias("sa"))
    b = sh.filter("id=2").select(F.col("s").alias("sb"))
    j = a.crossJoin(b).select(jaccard(F.col("sa"), F.col("sb")).alias("j")).collect()[0]["j"]
    # shingles: {abc,bcd} vs {bcd,cde} → 1/3
    assert abs(j - 1 / 3) < 1e-9


def test_connected_components_clusters(spark):
    """CC over a hand-built graph: two components + an isolated pair;
    every node labeled with its component's min id."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "src long, dst long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    """A 60-node path graph has diameter 59 > MAX_ROUNDS=20: plain
    min-label propagation would silently return wrong labels at the
    round cap (ADVICE r01); pointer jumping converges in O(log n)."""
    n = 60
    edges = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(n - 1)], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert len(got) == n
    assert set(got.values()) == {"d000"}  # one component, min-id label


def test_prefix_filter_join_tiers_row_identical(spark, monkeypatch):
    """dedup_prefix_filter_join has two physical tiers keyed on the
    measured distinct-set count (broadcast below PARTITIONED_SETSIM_SETS,
    keyed shuffle_hash joins above — the r10 third-decade fallback for
    the r9 sf30 broadcast OOM). The tier switch must be plan-only:
    forcing the partitioned tier on the same input must reproduce the
    broadcast tier's rows exactly."""
    from distributed_map_reduce_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    broadcast_rows = sorted(map(tuple, D.dedup_prefix_filter_join(spark, sf).collect()))
    monkeypatch.setattr(D, "PARTITIONED_SETSIM_SETS", 0)
    partitioned_rows = sorted(map(tuple, D.dedup_prefix_filter_join(spark, sf).collect()))
    assert broadcast_rows == partitioned_rows
    assert len(broadcast_rows) > 0
    # Force the intra-bucket chunk grid too (CHUNK=2 → every bucket
    # splits into B² cells): the hot-bucket anti-straggler path must be
    # pair-exact, not just the B=1 degenerate case sf0.001 exercises.
    monkeypatch.setattr(D, "PARTITIONED_SETSIM_CHUNK", 2)
    chunked_rows = sorted(map(tuple, D.dedup_prefix_filter_join(spark, sf).collect()))
    assert broadcast_rows == chunked_rows


def test_capped_lsh_drops_mega_buckets_keeps_ordinary_pairs(spark):
    """minhash_lsh_pairs_capped surrenders exactly the over-cap bucket
    families (here a 20-clone template family with cap-sized buckets)
    while ordinary near-dup pairs survive untouched — the linear-bounded
    pair feed for the pair-exact graph tier."""
    from distributed_map_reduce_spark.operators.dedup import LSH_BUCKET_CAP

    family = [(i, BASE) for i in range(1, LSH_BUCKET_CAP + 5)]  # 20 clones
    ordinary = [(100, NEAR_DUP.replace("quick", "swift")),
                (101, NEAR_DUP.replace("quick", "swift") + " extra"),
                (200, UNRELATED)]
    docs = spark.createDataFrame(family + ordinary, "doc_id long, text string")
    capped = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs_capped(docs).collect()}
    assert (100, 101) in capped                      # ordinary pair kept
    assert not any(a <= 20 and b <= 20 for a, b in capped)  # clone family dropped
    # capping only removes candidates: every capped pair is an uncapped pair
    full = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert capped <= full


@pytest.mark.parametrize(
    "texts",
    [[""], ["  \t  "], ["word"], [" ".join(["word"] * (SHINGLE_K - 1))], [], [None]],
    ids=["empty", "whitespace", "one_token", "k_minus_1_tokens", "zero_rows", "null_text"],
)
def test_degenerate_docs_have_no_shingles_or_pairs(spark, texts):
    """Documents shorter than one k-shingle, a null text, and a zero-row
    corpus give empty shingle sets and empty pair/cluster outputs —
    never an error or a bogus pair. Each text appears twice, so any
    spurious shingle would surface as an exact-duplicate pair."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + texts)], "doc_id long, text string"
    )
    assert all(r["s"] == [] for r in docs.select(shingles_col(F.col("text")).alias("s")).collect())
    assert shingle_rows(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0
    assert minhash_lsh_pairs_capped(docs).count() == 0
    star = minhash_star_pairs(docs)
    assert star.count() == 0
    assert connected_components(star, "doc_a", "doc_b").count() == 0


def test_minhash_feeds_match_oracles_on_tab_and_double_space(spark):
    """Both MinHash feeds tokenize like their DuckDB oracles: a tab is
    part of a word and a double space leaves an empty token that is
    dropped, so only the double-space copy pairs with the original."""
    import duckdb
    import pandas as pd

    from distributed_map_reduce_spark.operators.dedup import _MINHASH_ORACLE, _MINHASH_STAR_ORACLE

    base = "alpha beta gamma delta epsilon zeta"
    texts = [(1, base), (2, base.replace(" ", "\t", 1)), (3, base.replace(" ", "  ", 1))]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(texts, columns=["doc_id", "text"]))
    for feed, oracle in ((minhash_star_pairs, _MINHASH_STAR_ORACLE), (minhash_lsh_pairs, _MINHASH_ORACLE)):
        expected = sorted(r[:2] for r in con.execute(oracle).fetchall())
        assert expected == [(1, 3)]
        assert sorted(tuple(r) for r in feed(docs).select("doc_a", "doc_b").collect()) == expected
