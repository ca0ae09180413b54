"""Unit tests for the round-2 operator wave: as-of join semantics on a
hand-built fixture, salted aggregation equivalence, stateful streaming
vs batch, and sink round-trips."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from distributed_map_reduce_spark.operators.skew import salted_agg
from distributed_map_reduce_spark.operators.temporal import asof_join
from distributed_map_reduce_spark.registry import all_queries


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row with ts <= left ts, per key;
    equal timestamps match; no earlier right row -> null."""
    left = spark.createDataFrame(
        [(1, _ts(10), "p1"), (1, _ts(30), "p2"), (2, _ts(5), "p3")],
        "k long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(20), 200.0), (2, _ts(7), 300.0)],
        "k long, ts timestamp, quote double",
    )
    out = asof_join(left, right, key="k", ts="ts", right_cols=["quote"])
    got = {r["name"]: r["asof_quote"] for r in out.collect()}
    assert got == {"p1": 100.0, "p2": 200.0, "p3": None}


def test_salted_agg_matches_direct(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    direct = {
        r["l_returnflag"]: (r["s"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["s"], r["n"])
        for r in salted_agg(
            li, "l_returnflag", {"s": ("l_quantity", "sum"), "n": ("l_quantity", "count")}
        ).collect()
    }
    assert salted == direct


def test_stateful_stream_matches_batch(spark, sf_dir):
    got = {
        r["user_id"]: r["n_events"]
        for r in all_queries()["stream_stateful_user_totals"].fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_sink_roundtrip_preserves_values(spark, sf_dir):
    out = all_queries()["sink_parquet_roundtrip"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    assert sum(r["n"] for r in rows) == li.count()


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing conserves tokens, seq ids are contiguous per shard, and
    every sequence starts before its budget boundary (a doc may straddle
    — greedy first-fit by start offset)."""
    from distributed_map_reduce_spark.operators.pipeline import SEQ_BUDGET
    from distributed_map_reduce_spark.registry import all_queries

    rows = all_queries()["pipeline_pack_sequences"].fn(spark, sf_dir).collect()
    by_shard = {}
    total = 0
    for r in rows:
        by_shard.setdefault(r["shard"], {})[r["seq_id"]] = r["seq_tokens"]
        total += r["seq_tokens"]
        assert r["n_docs"] >= 1
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import pyspark.sql.functions as F

    want_total = docs.select(
        F.sum(F.size(F.filter(F.split("text", " "), lambda w: F.trim(w) != "")))
    ).collect()[0][0]
    assert total == want_total  # conservation
    for shard, seqs in by_shard.items():
        ids = sorted(seqs)
        assert ids == list(range(len(ids)))  # contiguous bins
        # all but the last bin must reach the budget boundary (a bin ends
        # only when the running total crosses it)
        for sid in ids[:-1]:
            assert sum(seqs[s] for s in range(sid + 1)) >= (sid + 1) * SEQ_BUDGET


def test_domain_mix_budget_never_exceeded(spark, sf_dir):
    from distributed_map_reduce_spark.operators.pipeline import MIX_BUDGET
    from distributed_map_reduce_spark.registry import all_queries

    rows = all_queries()["pipeline_domain_mix"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["tokens_kept"] <= MIX_BUDGET


def test_pagerank_star_vs_chain(spark):
    """Planted graph: a 4-leaf star's hub outranks every chain node, and
    total rank mass stays ~1 (undirected graph, no dangling loss)."""
    from distributed_map_reduce_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        # star: hub 0 with leaves 1-4; chain: 10-11-12-13
        [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 12), (12, 13)],
        "src int, dst int",
    )
    pr = {r["node"]: r["pr"] for r in pagerank(edges, iters=5).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    hub, leaves = pr[0], [pr[i] for i in (1, 2, 3, 4)]
    assert all(hub > l for l in leaves)
    assert all(abs(l - leaves[0]) < 1e-12 for l in leaves)  # symmetry
    assert hub > max(pr[10], pr[11], pr[12], pr[13])
    # chain interior outranks chain endpoints
    assert pr[11] > pr[10] and pr[12] > pr[13]


def test_scd2_intervals_partition_time(spark, sf_dir):
    """SCD2 invariants: versions are dense per key, exactly one current
    row per key, and each valid_to equals the next version's valid_from."""
    from distributed_map_reduce_spark import registry

    hist = registry.all_queries()["temporal_scd2_history"].fn(spark, sf_dir)
    import pandas as pd

    pdf = hist.toPandas().sort_values(["o_custkey", "version"])
    for _, grp in pdf.groupby("o_custkey"):
        assert list(grp["version"]) == list(range(1, len(grp) + 1))
        assert (grp["is_current"] == 1).sum() == 1
        assert grp.iloc[-1]["is_current"] == 1
        nxt = grp["valid_from"].shift(-1)
        ok = grp["valid_to"].iloc[:-1].reset_index(drop=True) == nxt.iloc[:-1].reset_index(drop=True)
        assert bool(ok.all())


def test_funnel_monotone(spark, sf_dir):
    """Funnel counts can only shrink step to step."""
    from distributed_map_reduce_spark import registry

    row = registry.all_queries()["events_funnel_conversion"].fn(spark, sf_dir).first()
    assert row["step1_view_users"] >= row["step2_click_users"] >= row["step3_purchase_users"]
    assert 0.0 <= row["conv_view_click"] <= 1.0
    assert 0.0 <= row["conv_click_purchase"] <= 1.0


def test_decile_gate_drops_bottom_30pct(spark, sf_dir):
    """Every source keeps exactly deciles 4-10 (ntile ties broken by
    doc_id), i.e. ~70% of its docs survive."""
    from distributed_map_reduce_spark import registry
    from distributed_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    kept = registry.all_queries()["pipeline_quality_decile_gate"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    per_src = dict(docs.groupBy("source").count().collect())
    kept_src = dict(kept.groupBy("source").count().collect())
    assert kept.select(F.min("decile")).first()[0] >= 4
    for src, total in per_src.items():
        frac = kept_src.get(src, 0) / total
        assert 0.6 <= frac <= 0.8, (src, frac)


def test_containment_catches_subdocument(spark):
    """A short doc fully embedded in a long doc scores containment 1.0
    even when its Jaccard vs the long doc is far below threshold."""
    from distributed_map_reduce_spark.functions.normalize import words
    from distributed_map_reduce_spark.operators.dedup import containment_candidates, shingle_rows
    from pyspark.sql import functions as F

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words entirely different text here now")],
        "doc_id int, text string",
    )
    cand = containment_candidates(shingle_rows(docs))
    d = docs.select("doc_id", F.array_distinct(words("text")).alias("words"))
    got = (
        cand.join(d.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("w_a")), "doc_a")
        .join(d.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("w_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.size(F.array_intersect("w_a", "w_b"))
             / F.least(F.size("w_a"), F.size("w_b"))).alias("containment"),
            (F.size(F.array_intersect("w_a", "w_b"))
             / F.size(F.array_union("w_a", "w_b"))).alias("jaccard"),
        )
        .collect()
    )
    pair = {(r["doc_a"], r["doc_b"]): r for r in got}
    assert (1, 2) in pair, "sub-document pair must be a rare-shingle candidate"
    assert pair[(1, 2)]["containment"] == 1.0
    assert pair[(1, 2)]["jaccard"] < 0.6


def test_sessionize_gap_semantics(spark, sf_dir):
    """Session invariants: durations are non-negative, no session spans a
    >30min internal gap, and counts reconcile with the raw event count."""
    from distributed_map_reduce_spark import registry
    from distributed_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    sess = registry.all_queries()["events_sessionize_ids"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    assert sess.filter(F.col("duration_sec") < 0).count() == 0
    assert (
        sess.agg(F.sum("n_events")).first()[0] == ev.count()
    ), "every event lands in exactly one session"
    # consecutive sessions of a user are separated by > 30 min
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_start")
    gaps = sess.select(
        "user_id",
        (F.col("session_start").cast("long")
         - F.lag("session_end").over(w).cast("long")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    assert gaps.filter(F.col("gap") <= 1800).count() == 0


def test_mixture_weights_normalized(spark, sf_dir):
    from distributed_map_reduce_spark import registry
    import math

    rows = registry.all_queries()["pipeline_mixture_weights"].fn(spark, sf_dir).collect()
    assert math.isclose(sum(r["sample_weight"] for r in rows), 1.0, abs_tol=1e-4)
    assert math.isclose(sum(r["actual_share"] for r in rows), 1.0, abs_tol=1e-4)
    # temperature 0.5 compresses: under-represented sources get boosted
    # above their share, over-represented ones get clipped below
    for r in rows:
        uniform = 1.0 / len(rows)
        if r["actual_share"] < uniform:
            assert r["sample_weight"] > r["actual_share"]


def test_bfs_depths_chain(spark):
    """Planted chain 0-1-2-...-7 with seed {0}: depth equals hop count,
    capped at max_depth, and disconnected nodes are absent."""
    from distributed_map_reduce_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)] + [(100, 101)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(0,)], "node int")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, seeds, max_depth=4).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # 5..7 beyond cap, 100s unreachable


def test_cdc_tombstone_semantics(spark):
    """Delete shadows every earlier put; a put after a delete resurrects."""
    from pyspark.sql import functions as F, Window

    ops = spark.createDataFrame(
        [
            ("a", "put", 1.0, 1), ("a", "delete", None, 2),           # a: gone
            ("b", "put", 2.0, 1), ("b", "delete", None, 2), ("b", "put", 3.0, 3),  # b: 3.0
            ("c", "put", 9.0, 5),                                      # c: 9.0
        ],
        "key string, op string, value double, seq long",
    )
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    final = (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select("key", "value")
    )
    got = {r["key"]: r["value"] for r in final.collect()}
    assert got == {"b": 3.0, "c": 9.0}


def test_ewma_matches_python_replay(spark, sf_dir):
    """temporal_ewma_decay equals a per-type sequential Python replay of
    the same fixed-point decay arithmetic."""
    from collections import defaultdict

    from distributed_map_reduce_spark.operators.temporal import temporal_ewma_decay
    from distributed_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.round(F.avg("value") * 10000).cast("bigint").alias("v"))
        .collect()
    )
    by_type = defaultdict(dict)
    for r in hourly:
        by_type[r["event_type"]][r["bucket"]] = r["v"]
    want = {}
    for etype, series in by_type.items():
        for b, v in series.items():
            num = den = 0
            for d in range(7):
                src = b - __import__("datetime").timedelta(hours=d)
                if src in series:
                    w = 1 << (6 - d)
                    num += series[src] * w
                    den += w
            want[(etype, b)] = round(num / (den * 10000.0), 4)
    got = {
        (r["event_type"], r["bucket"]): r["ewma_value"]
        for r in temporal_ewma_decay(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 100


def test_chunking_covers_text_with_overlap(spark, sf_dir):
    """Every chunk is a true substring at its stride offset; consecutive
    chunks overlap by window-stride chars; total coverage reaches the
    end of every document."""
    from distributed_map_reduce_spark.operators.pipeline import (
        CHUNK_LEN,
        CHUNK_STRIDE,
        pipeline_chunk_documents,
    )
    from distributed_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").limit(50).collect()
    }
    out = (
        pipeline_chunk_documents(spark, sf_dir)
        .filter(F.col("doc_id").isin(list(docs)))
        .collect()
    )
    import hashlib

    per_doc = {}
    for r in out:
        text = docs[r["doc_id"]]
        start = r["chunk_idx"] * CHUNK_STRIDE
        piece = text[start : start + CHUNK_LEN]
        assert hashlib.md5(piece.encode()).hexdigest() == r["chunk_hash"]
        assert len(piece) == r["chunk_chars"]
        per_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], len(piece)))
    for doc_id, chunks in per_doc.items():
        chunks.sort()
        last_idx, last_len = chunks[-1]
        assert last_idx * CHUNK_STRIDE + last_len == len(docs[doc_id])


def test_empty_input_edges(spark):
    """Library operators degrade to empty results (not errors) on empty
    inputs — the behavior a composed 100 TB pipeline relies on when a
    filter stage eliminates everything."""
    from pyspark.sql import functions as F

    from distributed_map_reduce_spark.operators.graph import (
        bfs_depths,
        connected_components,
    )
    from distributed_map_reduce_spark.operators.temporal import asof_join

    empty_edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(empty_edges).count() == 0

    seeds = spark.createDataFrame([], "node bigint")
    assert bfs_depths(empty_edges, seeds, max_depth=3).count() == 0

    left = spark.createDataFrame([(1, 10, 5.0)], "k bigint, t bigint, v double")
    right = spark.createDataFrame([], "k bigint, t bigint, rv double")
    out = asof_join(left, right, key="k", ts="t", right_cols=["rv"]).collect()
    assert len(out) == 1 and out[0]["asof_rv"] is None


def test_single_row_and_tie_determinism(spark):
    """Reservoir sampling and weighted median are well-defined on
    single-row groups, and the md5 rank order is stable across reruns."""
    from distributed_map_reduce_spark.operators.sampling import (
        sample_reservoir_per_group,
    )

    a = sample_reservoir_per_group(spark, "/root/testdata/sf0.001").collect()
    b = sample_reservoir_per_group(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) > 0


def test_pit_features_are_leakage_free(spark, sf_dir):
    """Point-in-time features must be STRICTLY prior: every customer's
    earliest order carries zero prior_orders/spend, and prior_orders
    along a customer's date-ordered history is non-decreasing."""
    from distributed_map_reduce_spark.operators.temporal import (
        temporal_pit_feature_join,
    )

    rows = temporal_pit_feature_join(spark, sf_dir).collect()
    assert rows
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    firsts_seen_zero = 0
    for hist in by_cust.values():
        ns = sorted(h["prior_orders"] for h in hist)
        if ns[0] == 0:
            firsts_seen_zero += 1
        for h in hist:
            assert (h["prior_orders"] == 0) == (h["prior_spend_cents"] == 0)
    # the o_orderkey<=5000 slice keeps most customers' true first order
    assert firsts_seen_zero > 0


def test_cdc_incremental_equals_full_recompute(spark, sf_dir):
    """The delta-maintenance algebra must be exactly the full join-agg."""
    from pyspark.sql import functions as F

    from distributed_map_reduce_spark.operators.joins import (
        cdc_incremental_join_agg,
    )
    from distributed_map_reduce_spark.sources import load_table

    inc = {
        r["c_nationkey"]: (r["n_orders"], r["total_cents"])
        for r in cdc_incremental_join_agg(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    full = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("c"),
        )
        .collect()
    )
    assert inc == {r["c_nationkey"]: (r["n"], r["c"]) for r in full}


def test_prefix_filter_join_matches_bruteforce(spark):
    """Prefix filtering is exact-recall: candidates it generates must
    contain EVERY pair with Jaccard >= tau (checked brute-force at the
    smallest SF)."""
    from itertools import combinations

    from distributed_map_reduce_spark.operators.dedup import (
        dedup_prefix_filter_join,
    )
    from distributed_map_reduce_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_near_dups"], r["best_match"], r["best_jaccard"])
        for r in dedup_prefix_filter_join(spark, sf).collect()
    }
    docs = {
        r["doc_id"]: set(w for w in r["text"].lower().split(" ") if w)
        for r in load_table(spark, sf, "documents").select("doc_id", "text").collect()
    }
    sym = {}
    for a, b in combinations(sorted(docs), 2):
        inter = len(docs[a] & docs[b])
        union = len(docs[a] | docs[b])
        if union and inter / union >= 0.9:
            j = round(inter / union, 6)
            sym.setdefault(a, []).append((j, b))
            sym.setdefault(b, []).append((j, a))
    want = {}
    for d, lst in sym.items():
        best_j = max(j for j, _ in lst)
        best_o = min(o for j, o in lst if j == best_j)
        want[d] = (len(lst), best_o, best_j)
    assert got == want and len(want) > 0


def test_semdedup_prunes_within_cluster_only(spark, sf_dir):
    """Every pruned vector's keeper must sit in the same cluster, with
    keeper id < pruned id (keep-first discipline)."""
    from distributed_map_reduce_spark.operators.similarity import (
        similarity_semdedup_prune,
    )

    rows = similarity_semdedup_prune(spark, sf_dir).collect()
    assert rows
    assert all(r["dup_of"] < r["prune_id"] for r in rows)
    # one row per pruned vector (best-match selection is deterministic)
    pruned = [r["prune_id"] for r in rows]
    assert len(pruned) == len(set(pruned))


def test_bpe_train_matches_python_reference(spark):
    """The distributed BPE trainer must reproduce a pure-Python BPE
    (Sennrich-style: most frequent adjacent pair, lexicographic ties,
    left-to-right rewrite) over the same words (`words_py`) exactly,
    round for round."""
    from collections import Counter

    from distributed_map_reduce_spark.functions.normalize import words_py
    from distributed_map_reduce_spark.operators.text import bpe_train_merges
    from distributed_map_reduce_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    # A tab is part of a word and a double space leaves an empty token:
    # repeated often enough, the tab's pairs are the first two merges,
    # which a str.split() tokenizer would never see.
    tabbed = spark.createDataFrame([("  ".join(["a\tb"] * 5000),)], "text string")
    docs = load_table(spark, sf, "documents").select("text").unionByName(tabbed)
    got = [
        (r["merge_rank"], r["pair"], r["pair_count"])
        for r in sorted(bpe_train_merges(docs).collect(), key=lambda r: r[0])
    ]

    freq = Counter()
    for r in docs.select("text").collect():
        for w in words_py(r["text"]):
            freq[w] += 1
    vocab = {tuple(w): n for w, n in freq.items()}
    want = []
    for rank in range(1, 6):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        # max count, then lexicographically smallest pair (the Spark side
        # orders by n desc, pair asc on the joined "a␟b" string)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        want.append((rank, f"{a}+{b}", n))
        new_vocab = {}
        for syms, cnt in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + cnt
        vocab = new_vocab
    assert got == want and len(got) == 5


def test_kcore_peels_tails_keeps_clique(spark):
    """Planted graph: a K4 clique with a pendant chain — the 3-core is
    exactly the clique (every chain node peels, including the clique
    member's pendant edge not affecting its in-core degree)."""
    from distributed_map_reduce_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        # K4 on {0,1,2,3} + chain 3-10-11-12
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
         (3, 10), (10, 11), (11, 12)],
        "src int, dst int",
    )
    got = {r["node"]: r["core_degree"] for r in kcore(edges, k=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
