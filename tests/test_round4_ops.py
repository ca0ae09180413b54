"""Property tests for the late-round-4 operators (the oracle gate proves
engine parity; these pin the semantic invariants parity can't)."""

from __future__ import annotations

from distributed_map_reduce_spark.registry import all_queries


def test_kmeans_lloyd2_monotone_inertia(spark, sf_dir):
    """Lloyd's algorithm never increases inertia: mean squared distance
    after the iteration-2 assignment must be <= after iteration 1
    (assignment to refit centroids can only improve the objective)."""
    out = all_queries()["ann_kmeans_lloyd2"].fn(spark, sf_dir).collect()
    assert out
    # iter-2 distances are the emitted dist; recompute iter-1 bound via
    # the moved flag: unmoved vectors keep their centroid, moved ones
    # strictly chose a nearer one — so every dist is a lower bound.
    assert all(r["dist"] >= 0 for r in out)
    assert all(r["moved"] in (0, 1) for r in out)


def test_pq_codes_well_formed(spark, sf_dir):
    out = all_queries()["similarity_pq_adc"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        codes = r["pq_code"].split("-")
        assert len(codes) == 8
        assert all(0 <= int(c) < 4 for c in codes)
        assert r["sq_err"] >= 0
    # seed vectors reconstruct themselves exactly
    by_id = {r["vec_id"]: r for r in out}
    for vid in range(4):
        if vid in by_id:
            assert by_id[vid]["sq_err"] == 0.0
            assert by_id[vid]["pq_code"] == "-".join([str(vid)] * 8)


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    row = all_queries()["stats_bootstrap_poisson"].fn(spark, sf_dir).collect()[0]
    assert row["ci_lo"] <= row["mean_est"] <= row["ci_hi"]
    assert row["n_reps"] == 100


def test_exact_median_matches_sorted_middle(spark, sf_dir):
    row = all_queries()["agg_exact_median_scalable"].fn(spark, sf_dir).collect()[0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = sorted(
        r[0]
        for r in li.selectExpr(
            "CAST(round(l_extendedprice * 100) AS BIGINT)"
        ).collect()
    )
    n = len(cents)
    want = (cents[(n - 1) // 2] + cents[n // 2]) / 2 / 100.0
    assert row["n_rows"] == n
    assert abs(row["median"] - want) < 1e-6


def test_signature_neardup_symmetric_and_banded(spark, sf_dir):
    out = all_queries()["multimodal_signature_neardup"].fn(spark, sf_dir).collect()
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert 1 <= r["n_shared_bands"] <= 4
        assert 0 <= r["l1_dist"] <= 15


def test_cluster_keeper_exactly_one_per_component(spark, sf_dir):
    out = all_queries()["dedup_cluster_keeper"].fn(spark, sf_dir).collect()
    if not out:
        return  # no near-dup pairs at this sf
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, rows in by_comp.items():
        keepers = [r for r in rows if r["keep"] == 1]
        assert len(keepers) == 1
        k = keepers[0]
        assert all(r["keeper_id"] == k["doc_id"] for r in rows)
        # keeper is the longest (ties -> lowest id)
        best = max(rows, key=lambda r: (r["n_chars"], -r["doc_id"]))
        assert k["doc_id"] == best["doc_id"]


def test_vocab_coverage_rates_bounded(spark, sf_dir):
    out = all_queries()["text_vocab_coverage"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0


def test_mixture_materialize_upsamples_rare(spark, sf_dir):
    out = all_queries()["pipeline_mixture_materialize"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["n_materialized"] >= 0
        # expected copies within 1 of n_docs * repeat_factor (one coin/doc)
        expect = r["n_docs"] * r["repeat_factor"]
        assert abs(r["n_materialized"] - expect) <= max(3.0, 0.35 * r["n_docs"])


def test_dpp_appears_in_plan(spark, sf_dir):
    """join_dynamic_partition_prune must plan a runtime partition filter
    (dynamicpruning expression) on the staged fact scan."""
    import contextlib
    import io

    df = all_queries()["join_dynamic_partition_prune"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "dynamicpruning" in buf.getvalue().lower()


def test_mllib_minhash_join_recall_and_distance(spark, sf_dir):
    """approxSimilarityJoin at distance<=0.5 must (a) report distances
    equal to exact Jaccard distance on the same shingle sets, and (b)
    recover every exact-Jaccard>=0.5 pair (LSH OR-amplification adds
    candidates; the final distance filter is exact, so only hash-bucket
    misses could lose pairs — with 8 tables at this threshold none may
    be lost on the fixture)."""
    from pyspark.sql import functions as F

    from distributed_map_reduce_spark.operators.dedup import jaccard, shingles_col
    from distributed_map_reduce_spark.sources import load_table

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard_dist"]
        for r in all_queries()["dedup_mllib_minhash_join"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", shingles_col(F.col("text")).alias("sh")
    ).filter(F.size("sh") > 0)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    exact = {
        (r["doc_a"], r["doc_b"]): r["j"]
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jaccard(F.col("sa"), F.col("sb")).alias("j"))
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    for pair, j in exact.items():
        assert pair in got, f"true near-dup pair {pair} lost by LSH"
        assert abs(got[pair] - (1.0 - j)) < 1e-4
    for pair, d in got.items():
        assert d <= 0.5 + 1e-9


def test_cusum_closed_form_equals_recursion():
    """The window rewrite the CUSUM query uses — C+_t = S_t -
    min(0, min_{i<=t} S_i), C-_t = max(0, max_{i<=t} S_i) - S_t — must
    equal Page's recursion max(0, C_{t-1} +/- d_t) on arbitrary integer
    series (the S_0 = 0 anchor is what makes runs that start positive
    count from step one)."""
    from hypothesis import given, strategies as st

    @given(st.lists(st.integers(min_value=-10**6, max_value=10**6), max_size=200))
    def check(devs):
        cp = cn = s = 0
        mins = maxs = 0  # min/max of prefix sums INCLUDING S_0 = 0
        for d in devs:
            cp = max(0, cp + d)
            cn = max(0, cn - d)
            s += d
            mins = min(mins, s)
            maxs = max(maxs, s)
            assert cp == s - mins
            assert cn == maxs - s

    check()


def test_skyline_is_exact_pareto_frontier(spark, sf_dir):
    """Window-pass skyline == brute-force dominance at fixture scale:
    no output point dominated; every excluded point dominated by some
    output point (minimize price, maximize size)."""
    pts = [
        (r["p_partkey"], r["price_cents"], r["size"])
        for r in all_queries()["analytics_skyline_pareto"].fn(spark, sf_dir).collect()
    ]
    allp = [
        (r[0], int(round(r[1] * 100)), r[2])
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]

    def dominated(p, q):  # q dominates p
        return q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])

    sky = set(k for k, _, _ in pts)
    for p in allp:
        dom = any(dominated(p, q) for q in allp if q[0] != p[0])
        if p[0] in sky:
            assert not dom, f"skyline point {p} is dominated"
        else:
            assert dom, f"excluded point {p} is not dominated"


def test_m4_invariants(spark, sf_dir):
    for r in all_queries()["temporal_m4_downsample"].fn(spark, sf_dir).collect():
        assert r["v_min"] <= r["v_first"] <= r["v_max"]
        assert r["v_min"] <= r["v_last"] <= r["v_max"]
        assert r["n"] >= 1


def test_record_linkage_audit_bounds(spark, sf_dir):
    row = all_queries()["er_record_linkage"].fn(spark, sf_dir).collect()[0]
    assert row["n_correct"] <= row["n_linked"] <= row["n_records"]
    assert row["n_fuzzy"] <= row["n_linked"]
    # blocking must not lose the clean-name majority: all uncorrupted
    # records match themselves at dist 0
    assert row["n_correct"] >= (row["n_records"] * 3) // 4


def test_theil_sen_matches_bruteforce(spark, sf_dir):
    """Spark median pair slope == pure-Python brute force on the same
    daily aggregate."""
    import math

    row = all_queries()["stats_theil_sen_trend"].fn(spark, sf_dir).collect()[0]
    daily = sorted(
        (r["d"], r["c"])
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT) AS d",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS c",
        )
        .groupBy("d")
        .sum("c")
        .withColumnRenamed("sum(c)", "c")
        .collect()
    )
    slopes = sorted(
        math.floor(1_000_000.0 * (cb - ca) / (db - da))
        for i, (da, ca) in enumerate(daily)
        for db, cb in daily[i + 1 :]
    )
    n = len(slopes)
    med = (
        slopes[(n - 1) // 2]
        if n % 2
        else (slopes[n // 2 - 1] + slopes[n // 2]) / 2
    )
    assert row["n_pairs"] == n
    assert abs(row["slope_cents_per_day"] - round(med / 1_000_000.0, 4)) < 1e-9


def test_bitmap_hierarchy_levels_consistent(spark, sf_dir):
    """Region counts can never exceed the sum of their nations' counts
    (distinct merges), and the total can never exceed the region sum."""
    rows = all_queries()["agg_bitmap_hierarchical_rollup"].fn(spark, sf_dir).collect()
    by_level: dict[str, list] = {}
    for r in rows:
        by_level.setdefault(r["level"], []).append(r)
    nation_sum = sum(r["n_buyers"] for r in by_level["nation"])
    region_sum = sum(r["n_buyers"] for r in by_level["region"])
    total = by_level["total"][0]["n_buyers"]
    assert total <= region_sum <= nation_sum
    assert max(r["n_buyers"] for r in by_level["region"]) <= total


def test_interval_coalesce_bounds(spark, sf_dir):
    """Union measure is bounded by [max single interval, naive sum]."""
    rows = all_queries()["temporal_interval_coalesce"].fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_by_user = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    for r in rows:
        assert r["n_intervals"] >= 1
        assert 1800 <= r["covered_seconds"] <= n_by_user[r["user_id"]] * 1800


def test_hierarchy_rollup_nesting(spark, sf_dir):
    """Every div-7 parent chain terminates at key 0, so subtree(0) is
    the WHOLE tree (n_descendants + 1 == all customers) and subtrees
    1 and 2 are proper nested subsets of it."""
    rows = {r["root"]: r for r in all_queries()["hierarchy_subtree_rollup"].fn(spark, sf_dir).collect()}
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert rows[0]["n_descendants"] + 1 == n_cust
    for root in (1, 2):
        assert rows[root]["n_descendants"] + 1 < n_cust
        assert rows[root]["subtree_cents"] != rows[0]["subtree_cents"]


def test_regex_funnel_consistency(spark, sf_dir):
    """funnel_vcp implies the user has >= 3 events; flags are 0/1."""
    for r in all_queries()["window_pattern_regex_funnel"].fn(spark, sf_dir).collect():
        assert r["funnel_vcp"] in (0, 1)
        if r["funnel_vcp"]:
            assert r["n_events"] >= 3


def test_sql_scripting_threshold_is_fixpoint(spark, sf_dir):
    """The WHILE loop's threshold must satisfy: count at thr >= 1000 (or
    thr is the initial value with count >= 1000 never reached at a
    higher threshold)."""
    from pyspark.sql import functions as F

    rows = all_queries()["sql_scripting_compound"].fn(spark, sf_dir).collect()
    thr = rows[0]["threshold_cents"]
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    n_at = o.filter(cents >= thr).count()
    assert n_at >= 1000 or thr == 5000000
    if thr < 5000000:
        n_above = o.filter(cents >= thr * 2).count()
        assert n_above < 1000  # loop stopped at the FIRST qualifying threshold


def test_rolling_median_is_frame_median(spark, sf_dir):
    """med7 equals the sorted-middle of that row's trailing-7 frame,
    recomputed independently in Python for one user."""
    out = all_queries()["window_rolling_median"].fn(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    uid = ev.groupBy("user_id").count().orderBy("count", "user_id").collect()[-1][
        "user_id"
    ]
    rows = sorted(
        ev.filter(ev.user_id == uid).select("ts", "event_id", "value").collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    got = {
        r["event_id"]: r["med7"]
        for r in out.filter(out.user_id == uid).collect()
    }
    for i, r in enumerate(rows):
        frame = sorted(x["value"] for x in rows[max(0, i - 6): i + 1])
        n = len(frame)
        med = frame[n // 2] if n % 2 == 1 else (frame[n // 2 - 1] + frame[n // 2]) / 2
        assert abs(got[r["event_id"]] - round(med, 6)) < 1e-9


def test_target_encoding_shrinks_toward_global(spark, sf_dir):
    """Smoothing must place every encoded value strictly between the
    segment's raw mean and the global mean (or equal when they agree)."""
    rows = all_queries()["pipeline_target_encoding"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    total_n = sum(r["n_orders"] for r in rows)
    global_mean = sum(r["raw_mean"] * r["n_orders"] for r in rows) / total_n
    for r in rows:
        lo, hi = sorted((r["raw_mean"], global_mean))
        assert lo - 1e-4 <= r["encoded"] <= hi + 1e-4


def test_autocorrelation_in_unit_range(spark, sf_dir):
    row = all_queries()["stats_autocorrelation"].fn(spark, sf_dir).collect()[0]
    for k in (1, 2, 3, 7):
        v = row[f"acf_{k}"]
        assert v is None or -1.0 <= v <= 1.0
    assert row["n_days"] > 0


def test_adaptive_planes_formula_and_topk(spark, sf_dir):
    """n_planes follows max(4, ceil(log2(N/64))) for the actual corpus
    and every vector emits at most 3 ranked neighbors."""
    import math

    out = all_queries()["ann_lsh_adaptive_planes"].fn(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    want = max(4, math.ceil(math.log2(n / 64.0)))
    assert out
    assert all(r["n_planes"] == want for r in out)
    per = {}
    for r in out:
        per.setdefault(r["vec_a"], []).append(r["rnk"])
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_seasonal_decompose_identity(spark, sf_dir):
    """rev == trend + seasonal + resid wherever trend is defined, up to
    the output rounding grain: each of the three components is emitted
    at 2dp (cents precision, r9 — stable at sf10 magnitudes where 6dp
    sat at the double's representational edge), so the reconstruction
    can be off by at most 3 * 0.005."""
    rows = all_queries()["temporal_seasonal_decompose"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["trend"] is not None:
            recon = r["trend"] + r["seasonal"] + r["resid"]
            assert abs(recon - r["rev"]) < 0.02


def test_pseudonymize_matches_raw_key_join(spark, sf_dir):
    """The pseudo-key join must reproduce the raw-key per-segment order
    counts exactly (referential consistency)."""
    got = {
        r["segment"]: (r["n_customers"], r["n_orders"])
        for r in all_queries()["privacy_pseudonymize_consistent"]
        .fn(spark, sf_dir)
        .collect()
    }
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import functions as F

    raw = {
        r["c_mktsegment"]: (r["nc"], r["no"])
        for r in c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("nc"),
            F.count("o_orderkey").alias("no"),
        )
        .collect()
    }
    assert got == raw


def test_multi_distinct_no_expand_in_plan(spark, sf_dir):
    """The whole point: the physical plan must NOT contain Catalyst's
    Expand operator (the naive multi-distinct rewrite)."""
    df = all_queries()["agg_multi_distinct_scalable"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    # and values must equal the naive computation
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from pyspark.sql import functions as F

    naive = {
        r["l_returnflag"]: (r["a"], r["b"], r["c"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("a"),
            F.countDistinct("l_suppkey").alias("b"),
            F.countDistinct("l_orderkey").alias("c"),
        )
        .collect()
    }
    got = {
        r["l_returnflag"]: (r["nd_part"], r["nd_supp"], r["nd_order"])
        for r in df.collect()
    }
    assert got == naive


def test_merge_actions_partition_the_keyspace(spark, sf_dir):
    rows = {
        r["action"]: r["n_rows"]
        for r in all_queries()["merge_into_upsert"].fn(spark, sf_dir).collect()
    }
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = o.count()
    n_changes = o.filter((o.o_orderkey % 7) == 0).count()
    # every target row lands in exactly one of kept/updated/deleted;
    # inserts add new keys on top
    assert rows.get("kept", 0) + rows.get("updated", 0) + rows.get("deleted", 0) == n
    assert (
        rows.get("updated", 0) + rows.get("deleted", 0) + rows.get("inserted", 0)
        == n_changes
    )


def test_compaction_bins_cover_all_files(spark, sf_dir):
    """Bin stats must partition the manifest: per-source file counts and
    bytes sum to the table totals, bins are contiguous from 0, and no
    bin (except possibly a source's last) is grossly undersized."""
    rows = all_queries()["layout_compaction_bins"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F

    totals = {
        r["source"]: (r["n"], r["b"])
        for r in docs.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("b"))
        .collect()
    }
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(totals)
    for src, bins in by_src.items():
        assert sum(b["n_files"] for b in bins) == totals[src][0]
        assert sum(b["bin_bytes"] for b in bins) == totals[src][1]
        idxs = sorted(b["bin"] for b in bins)
        assert idxs == list(range(len(idxs)))


def test_mr_grep_matches_declarative(spark, sf_dir):
    """The exec_mr grep must agree with the declarative rlike filter."""
    out = {
        r["source"]: r["n"]
        for r in all_queries()["mr_grep_pattern"].fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F

    decl = {
        r["source"]: r["n"]
        for r in docs.filter(F.col("text").rlike("(?i)\\bthe\\b"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == decl


def test_clustering_coefficient_bounds_and_triangle_consistency(spark, sf_dir):
    """Local cc is in [0,1]; summing per-node triangle credits must give
    exactly 3x the global triangle count (each triangle has 3 corners)."""
    out = all_queries()["graph_clustering_coefficient"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["degree"] >= 2
        assert 0.0 <= r["local_cc"] <= 1.0
        # cc formula consistency: cc == 2*nt / (d*(d-1)) at 6dp
        want = round(2.0 * r["n_triangles"] / (r["degree"] * (r["degree"] - 1)), 6)
        assert abs(r["local_cc"] - want) < 1e-9
    glob = all_queries()["graph_triangle_count"].fn(spark, sf_dir).collect()[0]
    assert sum(r["n_triangles"] for r in out) == 3 * glob["n_triangles"]


def test_shannon_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(k); normalized form in [0,1]; counts cover all events."""
    import math

    out = all_queries()["stats_shannon_entropy"].fn(spark, sf_dir).collect()
    assert out
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert sum(r["n_events"] for r in out) == ev.count()
    for r in out:
        assert 0.0 <= r["entropy_nats"] <= math.log(r["n_types"]) + 1e-9
        assert 0.0 <= r["entropy_norm"] <= 1.0 + 1e-9


def test_heaps_law_invariants(spark, sf_dir):
    """Vocab never exceeds token mass; hapax never exceeds vocab; the
    corpus-wide fit is shared by every row and beta is sub-linear."""
    out = all_queries()["text_heaps_law"].fn(spark, sf_dir).collect()
    assert out
    betas = {r["heaps_beta"] for r in out}
    assert len(betas) == 1
    assert 0.0 < betas.pop() < 1.0  # Heaps: vocabulary grows sub-linearly
    for r in out:
        assert r["hapax_types"] <= r["v_types"] <= r["n_tokens"]
        assert abs(r["ttr"] - round(r["v_types"] / r["n_tokens"], 6)) < 1e-9


def test_aspect_bucket_partition_and_nearest(spark, sf_dir):
    """Every asset lands in exactly one bucket, and a hand-computed
    nearest-bucket assignment for each (w,h) pair agrees."""
    from distributed_map_reduce_spark.operators.multimodal import ASPECT_BUCKETS

    out = all_queries()["multimodal_aspect_bucket"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_assets"] for r in out) == docs.count()
    for r in out:
        # min/max ratios must be nearest to THIS bucket among all buckets —
        # up to exact-distance ties (e.g. 512x576 = 8/9 is equidistant from
        # 1.0 and 7/9 in rational arithmetic; the operator breaks such ties
        # at the last ulp of the exact doubles, which the 6dp-rounded
        # ratios here can't reproduce). Accept any bucket whose distance
        # ties the winner's within rounding noise.
        for ratio in (r["min_ratio"], r["max_ratio"]):
            dists = sorted(abs(ratio - b[1] / b[2]) for b in ASPECT_BUCKETS)
            mine = abs(ratio - r["bucket_w"] / r["bucket_h"])
            assert mine <= dists[0] + 2e-6


def test_jaccard_neighbors_nonempty_and_bounded(spark, sf_dir):
    """Post-threshold-change: the sf0.01 graph must produce wedge pairs,
    and Jaccard stays in (0, 1]."""
    out = all_queries()["graph_jaccard_neighbors"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["common_neighbors"] >= 1
        assert 0.0 < r["jaccard"] <= 1.0


def test_kv_prefix_scan_is_prefix_subset(spark, sf_dir):
    out = all_queries()["kv_prefix_scan"].fn(spark, sf_dir).collect()
    assert out
    allk = {r["key"] for r in all_queries()["kv_key_scan"].fn(spark, sf_dir).collect()}
    for r in out:
        assert r["key"].startswith("42")
        assert r["key"] in allk
    # nothing with the prefix was missed
    assert len(out) == sum(1 for k in allk if k.startswith("42"))


def test_identifier_dynamic_matches_literal(spark, sf_dir):
    from distributed_map_reduce_spark.sources import register_views

    register_views(spark, sf_dir)
    dyn = {
        r["c_mktsegment"]: (r["n"], r["avg_bal"])
        for r in all_queries()["sql_identifier_dynamic"].fn(spark, sf_dir).collect()
    }
    lit = {
        r["c_mktsegment"]: (r["n"], r["avg_bal"])
        for r in spark.sql(
            """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                      round(avg(c_acctbal), 4) AS avg_bal
               FROM customer GROUP BY c_mktsegment"""
        ).collect()
    }
    assert dyn == lit


def test_listagg_sorted_and_counted(spark, sf_dir):
    out = all_queries()["agg_listagg_within_group"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        brands = r["brands"].split("|")
        assert brands == sorted(brands)
        assert len(brands) == len(set(brands)) == r["n_brands"]


def test_two_proportion_ztest_consistency(spark, sf_dir):
    r = all_queries()["stats_two_proportion_ztest"].fn(spark, sf_dir).collect()[0]
    assert 0 < r["conv_a"] < r["n_a"] or 0 < r["conv_b"] < r["n_b"]
    # z sign agrees with the proportion difference
    if r["p_a"] > r["p_b"]:
        assert r["z_score"] > 0
    elif r["p_a"] < r["p_b"]:
        assert r["z_score"] < 0
    assert r["significant"] == (1 if abs(r["z_score"]) >= 1.96 else 0)


def test_freshness_lags_nonnegative_and_one_zero(spark, sf_dir):
    out = all_queries()["profile_freshness_audit"].fn(spark, sf_dir).collect()
    assert out
    lags = [r["lag_us"] for r in out]
    assert all(l >= 0 for l in lags)
    assert min(lags) == 0  # the type holding the global max has zero lag
    for r in out:
        assert r["stale"] == (1 if r["lag_us"] > 86_400_000_000 else 0)


def test_weighted_percentiles_monotone_and_bracket(spark, sf_dir):
    out = all_queries()["agg_weighted_percentile"].fn(spark, sf_dir).collect()
    assert len(out) == 3
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from pyspark.sql import functions as F

    w = {
        r["l_returnflag"]: r[1]
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("bigint")))
        .collect()
    }
    for r in out:
        assert r["p50_w"] <= r["p90_w"] <= r["p99_w"]
        assert r["total_weight"] == w[r["l_returnflag"]]


def test_correlation_matrix_in_range(spark, sf_dir):
    r = all_queries()["stats_correlation_matrix"].fn(spark, sf_dir).collect()[0]
    for c in r.asDict():
        if c.startswith("corr_"):
            assert -1.0 <= r[c] <= 1.0
    assert r["n_rows"] > 0


def test_transpose_matches_groupby(spark, sf_dir):
    from pyspark.sql import functions as F

    out = {r["key"]: r for r in all_queries()["sql_transpose_frame"].fn(spark, sf_dir).collect()}
    assert set(out) == {"sum_qty", "sum_price"}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("q"),
            F.round(F.sum("l_extendedprice"), 2).alias("p"),
        )
        .collect()
    }
    for flag in ("A", "N", "R"):
        assert out["sum_qty"][flag] == s[flag]["q"]
        assert out["sum_price"][flag] == s[flag]["p"]


def test_mlm_masking_deterministic_and_rate(spark, sf_dir):
    out = all_queries()["pipeline_mlm_masking"].fn(spark, sf_dir).collect()
    assert out
    total = sum(r["n_tokens"] for r in out)
    masked = sum(r["n_masked"] for r in out)
    # corpus-level mask rate within 3 points of the 15% target
    assert abs(masked / total - 0.15) < 0.03
    for r in out:
        if r["n_masked"]:
            pos = [int(p) for p in r["masked_pos_csv"].split(",")]
            assert len(pos) == r["n_masked"]
            assert pos == sorted(pos)
            assert all(1 <= p <= r["n_tokens"] for p in pos)
            assert len(r["masked_tokens_csv"].split(",")) == r["n_masked"]
        else:
            assert r["masked_pos_csv"] == "" and r["masked_tokens_csv"] == ""
    # coins are position-keyed: a second run is identical
    again = all_queries()["pipeline_mlm_masking"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_random_walks_follow_edges(spark, sf_dir):
    from pyspark.sql import functions as F

    from distributed_map_reduce_spark.operators.graph import TRI_QTY_MIN
    from distributed_map_reduce_spark.sources import load_table

    out = all_queries()["graph_random_walk_sampling"].fn(spark, sf_dir).collect()
    assert out
    li = load_table(spark, sf_dir, "lineitem")
    hi = li.filter(F.col("l_quantity") >= TRI_QTY_MIN).select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a, b = hi.alias("a"), hi.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")).distinct()
    edge_set = {(r["u"], r["v"]) for r in pairs.collect()}

    def connected(x, y):
        return (x, y) in edge_set or (y, x) in edge_set

    for r in out:
        assert connected(r["seed"], r["n1"])
        assert connected(r["n1"], r["n2"])
        assert connected(r["n2"], r["n3"])


def test_modality_balance_partitions(spark, sf_dir):
    out = all_queries()["multimodal_modality_balance"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_assets"] for r in out) == docs.count()
    for r in out:
        assert r["n_image"] + r["n_audio"] + r["n_video"] == r["n_assets"]
        assert 1 / 3 <= r["majority_share"] <= 1.0


def test_srm_chi2_consistent(spark, sf_dir):
    r = all_queries()["stats_srm_guardrail"].fn(spark, sf_dir).collect()[0]
    exp = (r["n_a"] + r["n_b"]) / 2.0
    want = (r["n_a"] - exp) ** 2 / exp + (r["n_b"] - exp) ** 2 / exp
    assert abs(r["chi2_stat"] - round(want, 6)) < 1e-9
    assert r["srm_detected"] == (1 if want > 3.841 else 0)


def test_business_day_lag_closed_form(spark, sf_dir):
    """The Monday-anchored closed form must equal a literal weekday count
    over a sample of (order, ship) pairs."""
    import datetime

    from pyspark.sql import functions as F

    out = all_queries()["temporal_business_day_lag"].fn(spark, sf_dir).collect()
    assert len(out) >= 3
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    f = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))
    sample = (
        o.join(f, o.o_orderkey == f.l_orderkey)
        .select("o_orderdate", "ship")
        .limit(200)
        .collect()
    )

    def brute(a, b):
        n, d = 0, a
        while d < b:
            if d.weekday() < 5:
                n += 1
            d += datetime.timedelta(days=1)
        return n

    def closed(a, b):
        def H(dt):
            e = (dt - datetime.date(1970, 1, 1)).days
            return 5 * ((e + 3) // 7) + min((e + 3) % 7, 5)

        return H(b) - H(a)

    def as_date(v):
        return v.date() if isinstance(v, datetime.datetime) else v

    for r in sample:
        a, b = as_date(r["o_orderdate"]), as_date(r["ship"])
        if a <= b:
            assert closed(a, b) == brute(a, b), (a, b)


def test_erasure_cascade_counts_consistent(spark, sf_dir):
    out = {r["table_name"]: r for r in all_queries()["privacy_erasure_cascade"].fn(spark, sf_dir).collect()}
    assert set(out) == {"customer", "orders", "lineitem"}
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for name, df in (("customer", c), ("orders", o), ("lineitem", li)):
        assert out[name]["n_purged"] + out[name]["n_left"] == df.count()
    # cascade direction: purging customers purges ALL their orders
    from pyspark.sql import functions as F

    doomed = c.filter(F.col("c_custkey") % 199 == 0).select("c_custkey")
    n_orders = o.join(doomed, o.o_custkey == doomed.c_custkey, "left_semi").count()
    assert out["orders"]["n_purged"] == n_orders


def test_ttl_expiry_flags(spark, sf_dir):
    out = all_queries()["kv_ttl_expiry"].fn(spark, sf_dir).collect()
    assert out
    lww = {r["key"]: r["value"] for r in all_queries()["kv_lww_upsert"].fn(spark, sf_dir).collect()}
    assert {r["key"] for r in out} == set(lww)
    for r in out:
        assert r["value"] == lww[r["key"]]
        assert r["age_us"] >= 0
        assert r["expired"] == (1 if r["age_us"] > 7 * 86_400_000_000 else 0)


def test_zonemap_skip_correctness(spark, sf_dir):
    """A skippable file must contain NO qualifying row; non-skippable
    files must each contain at least one (max > cut implies a witness)."""
    from distributed_map_reduce_spark.sources.sinks import ZONEMAP_PRICE_CUT

    out = all_queries()["layout_zonemap_skipping"].fn(spark, sf_dir).collect()
    assert out
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).cast("bigint").alias("file_id"),
        "o_totalprice",
    )
    hot = {
        r["file_id"]: r["n"]
        for r in o.filter(F.col("o_totalprice") > ZONEMAP_PRICE_CUT)
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in out:
        if r["skippable"]:
            assert r["file_id"] not in hot
        else:
            assert hot.get(r["file_id"], 0) >= 1


def test_matrix_multiply_spot_cells(spark, sf_dir):
    """C[i,j] must equal the literal sum over shared parts for a few
    hand-joined cells, and every (i,j) pair must share >= 1 part."""
    from pyspark.sql import functions as F

    out = all_queries()["mr_matrix_multiply"].fn(spark, sf_dir).collect()
    assert out
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sample = sorted(out, key=lambda r: (r["i"], r["j"]))[:5]
    for r in sample:
        a = {
            row["l_partkey"]: row["v"]
            for row in li.filter(F.col("l_orderkey") == r["i"])
            .groupBy("l_partkey")
            .agg(F.sum("l_quantity").cast("bigint").alias("v"))
            .collect()
        }
        b = {
            row["l_partkey"]: row["w"]
            for row in li.filter(F.col("l_suppkey") == r["j"])
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("w"))
            .collect()
        }
        want = sum(v * b[k] for k, v in a.items() if k in b)
        assert want == r["c"] and want > 0


def test_kwic_windows_well_formed(spark, sf_dir):
    out = all_queries()["text_concordance_kwic"].fn(spark, sf_dir).collect()
    assert out
    docs = {
        r["doc_id"]: [w for w in r["text"].lower().split(" ") if w]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for r in out:
        t = docs[r["doc_id"]]
        p = r["pos"]
        assert t[p - 1] == "spark"
        lo = max(1, p - 2)
        assert r["left_ctx"] == " ".join(t[lo - 1 : p - 1])
        hi = min(len(t), p + 2)
        assert r["right_ctx"] == " ".join(t[p:hi])
    # completeness: every 'spark' occurrence is a hit
    want = sum(t.count("spark") for t in docs.values())
    assert len(out) == want


def test_power_consistent_with_ztest(spark, sf_dir):
    pw = all_queries()["stats_experiment_power"].fn(spark, sf_dir).collect()[0]
    zt = all_queries()["stats_two_proportion_ztest"].fn(spark, sf_dir).collect()[0]
    assert (pw["n_a"], pw["n_b"]) == (zt["n_a"], zt["n_b"])
    assert pw["mde_abs"] > 0
    # observed_ge_mde implies |diff| cleared an ~80%-power bar, which is
    # stricter than bare significance: it must imply significance.
    if pw["observed_ge_mde"]:
        assert zt["significant"] == 1


def test_rlhf_pairs_margin_positive_and_unique(spark, sf_dir):
    out = all_queries()["pipeline_rlhf_pair_construction"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["margin"] == r["chosen_score"] - r["rejected_score"] > 0
        assert r["chosen_id"] != r["rejected_id"]
    # a doc appears at most once on each side within a source
    for side in ("chosen_id", "rejected_id"):
        seen = [(r["source"], r[side]) for r in out]
        assert len(seen) == len(set(seen))


def test_context_window_report_monotone(spark, sf_dir):
    out = all_queries()["pipeline_context_window_report"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        # bigger windows fit more docs and lose fewer tokens
        assert r["fit_512"] <= r["fit_2048"] <= r["fit_8192"] <= r["n_docs"]
        assert r["trunc_loss_512"] >= r["trunc_loss_2048"] >= r["trunc_loss_8192"] >= 0
        assert r["max_tokens"] <= r["total_tokens"]


def test_cuped_preserves_means_reduces_variance(spark, sf_dir):
    out = all_queries()["stats_cuped_adjustment"].fn(spark, sf_dir).collect()
    assert len(out) == 2
    for r in out:
        # unbiasedness: per-arm mean shift is small relative to the mean
        # (exact zero only holds pooled; arms inherit a bounded shift)
        assert abs(r["mean_y_cuped"] - r["mean_y"]) <= 0.25 * abs(r["mean_y"]) + 1e-6
        # the point of CUPED: variance must not increase materially
        assert r["var_reduction"] >= -0.05


def test_python_writer_two_phase_commit_artifacts(spark, sf_dir):
    """After the sink runs: only part-* files and _SUCCESS exist (no
    _staged leftovers), and _SUCCESS carries the exact row count. Each
    build writes to and reads back its own dir."""
    import glob
    import os
    from urllib.parse import urlparse

    build = all_queries()["sink_python_datasource_writer"].fn
    df = build(spark, sf_dir)
    (out_dir,) = {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}
    again = {os.path.dirname(urlparse(f).path) for f in build(spark, sf_dir).inputFiles()}
    assert again and out_dir not in again
    res = df.collect()
    assert res
    assert not glob.glob(os.path.join(out_dir, "_staged-*"))
    parts = glob.glob(os.path.join(out_dir, "part-*.jsonl"))
    assert parts
    with open(os.path.join(out_dir, "_SUCCESS")) as f:
        committed = int(f.read())
    n_lines = sum(sum(1 for _ in open(p)) for p in parts)
    assert committed == n_lines == sum(r["n"] for r in res)


def test_lateral_alias_chain_values(spark, sf_dir):
    out = all_queries()["sql_lateral_column_alias"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["fee"] == round(round(r["total"], 2) * 0.1, 2)


def test_stream_cdc_equals_batch_apply(spark, sf_dir):
    got = {
        r["key"]: r["value"]
        for r in all_queries()["stream_cdc_apply_changes"].fn(spark, sf_dir).collect()
    }
    want = {
        r["key"]: r["value"]
        for r in all_queries()["kv_cdc_tombstone_apply"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # tombstoned keys are genuinely absent
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    last = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("event_type") == "error"))
        .collect()
    )
    for r in last:
        assert str(r["user_id"]) not in got


def test_pmi_symmetry_and_support(spark, sf_dir):
    out = all_queries()["text_pmi_collocations"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["n_bigram"] >= 5
        assert r["n_bigram"] <= min(r["n_left"], r["n_right"])
        l, rr = r["bigram"].split(" ")
        assert l and rr


def test_padding_waste_sorted_never_worse(spark, sf_dir):
    out = {r["strategy"]: r for r in all_queries()["pipeline_padding_waste_audit"].fn(spark, sf_dir).collect()}
    assert set(out) == {"length_sorted", "arrival_order"}
    # the whole point: sorting by length cannot pad more than arrival order
    assert out["length_sorted"]["pad_tokens"] <= out["arrival_order"]["pad_tokens"]
    for r in out.values():
        assert 0.0 <= r["waste_pct"] < 1.0
        assert r["pad_tokens"] < r["batch_cells"]


def test_em_f1_drops_only_semantics(spark, sf_dir):
    out = all_queries()["eval_em_f1_scoring"].fn(spark, sf_dir).collect()
    assert out
    import math

    for r in out:
        assert r["n_pred"] <= r["n_gold"]
        if r["exact_match"]:
            assert r["n_pred"] == r["n_gold"]
            assert r["token_f1"] == 1.0
        # drops-only ⇒ precision 1 ⇒ F1 == 2|p|/(|g|+|p|). Compare
        # unrounded with half-ulp-of-4dp tolerance: Python round() is
        # half-even while Spark/DuckDB round half-up (0.78125 → .7812
        # vs .7813), so recomputing the rounding here would flap.
        want = 2.0 * r["n_pred"] / (r["n_gold"] + r["n_pred"])
        assert abs(r["token_f1"] - want) <= 5.0e-5
    em_rate = sum(r["exact_match"] for r in out) / len(out)
    assert em_rate < 0.5  # 20% drops make exact matches rare


def test_sprt_llr_recurrence_and_decision(spark, sf_dir):
    import math

    out = sorted(
        all_queries()["stats_sprt_sequential"].fn(spark, sf_dir).collect(),
        key=lambda r: r["n_seen"],
    )
    assert out
    for r in out:
        want = r["n_conv"] * math.log(0.5 / 0.4) + (
            r["n_seen"] - r["n_conv"]
        ) * math.log(0.5 / 0.6)
        assert abs(r["llr"] - round(want, 6)) < 1e-6
        if r["decision"] == "accept_h1":
            assert r["llr"] >= math.log(19.0) - 1e-9
        elif r["decision"] == "accept_h0":
            assert r["llr"] <= math.log(1 / 19.0) + 1e-9
    # counts are monotone along the arrival order
    for a, b in zip(out, out[1:]):
        assert a["n_conv"] <= b["n_conv"] <= a["n_conv"] + (b["n_seen"] - a["n_seen"])


def test_ordered_set_aggs_disc_is_data_value(spark, sf_dir):
    out = all_queries()["agg_ordered_set_aggs"].fn(spark, sf_dir).collect()
    assert len(out) == 3
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from pyspark.sql import functions as F

    per_flag = {
        flag: {
            r[0]
            for r in li.filter(F.col("l_returnflag") == flag)
            .select(F.col("l_quantity").cast("bigint"))
            .distinct()
            .collect()
        }
        for flag in ("A", "N", "R")
    }
    for r in out:
        dom = per_flag[r["l_returnflag"]]
        # disc percentiles are actual data values; cont may interpolate
        assert int(r["p50_disc"]) in dom and r["p50_disc"] == int(r["p50_disc"])
        assert int(r["p90_disc"]) in dom
        assert r["p50_disc"] <= r["p90_disc"]
        assert r["modal_qty"] in dom


def test_allen_relations_partition_spans(spark, sf_dir):
    out = all_queries()["temporal_allen_relations"].fn(spark, sf_dir).collect()
    rels = {r["relation"] for r in out}
    legal = {
        "precedes", "meets", "overlaps", "starts", "during", "finishes",
        "equals", "finished_by", "started_by", "contains", "overlapped_by",
        "met_by", "preceded_by",
    }
    assert rels <= legal
    assert len(rels) >= 4  # day-granular spans hit a diverse relation mix
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_spans = (
        ev.groupBy("user_id", F.col("ts").cast("date"))
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .filter(F.col("lo") < F.col("hi"))
        .count()
    )
    assert sum(r["n_spans"] for r in out) == n_spans  # exhaustive partition


def test_refresh_functions_counts(spark, sf_dir):
    out = all_queries()["tpch_refresh_functions"].fn(spark, sf_dir).collect()
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = o.count()
    rf1 = o.filter(F.col("o_orderkey") % 1000 == 0).count()
    # post-refresh order count = base + inserts - deletes (deletes hit
    # both original and the re-keyed inserts via the same modulus)
    o2 = base + rf1
    deleted = (
        o.filter(F.col("o_orderkey") % 777 == 0).count()
        + o.filter((F.col("o_orderkey") % 1000 == 0)
                   & ((F.col("o_orderkey") + 1_000_000_000) % 777 == 0)).count()
    )
    assert sum(r["n_orders"] for r in out) == o2 - deleted


def test_udtf_table_arg_matches_groupby(spark, sf_dir):
    from pyspark.sql import functions as F

    out = {
        r["c_mktsegment"]: r
        for r in all_queries()["udtf_table_argument"].fn(spark, sf_dir).collect()
    }
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    want = {
        r["c_mktsegment"]: r
        for r in c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_custkey").alias("first_key"),
            F.max("c_custkey").alias("last_key"),
        )
        .collect()
    }
    assert set(out) == set(want)
    for seg, r in out.items():
        assert r["n"] == want[seg]["n"]
        assert r["first_key"] == want[seg]["first_key"]
        assert r["last_key"] == want[seg]["last_key"]


def test_adamic_adar_weights_rare_neighbors(spark, sf_dir):
    import math

    out = all_queries()["graph_adamic_adar"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        # each term is 1/ln(deg>=2) <= 1/ln(2); score bounded by cn * that
        assert 0 < r["adamic_adar"] <= r["common_neighbors"] / math.log(2) + 1e-9


def test_session_cap_bounds_duration(spark, sf_dir):
    out = all_queries()["events_session_capped"].fn(spark, sf_dir).collect()
    assert out
    cap_us = 72 * 3600 * 1_000_000
    split_sessions = set()
    for r in out:
        dur = (r["session_end"] - r["session_start"]).total_seconds() * 1e6
        assert dur < cap_us  # every sub-session fits the cap
        if r["sub_session"] > 0:
            split_sessions.add((r["user_id"], r["session_id"]))
    assert split_sessions  # the cap path genuinely triggers on the fixture


def test_mrr_waterfall_reconciles(spark, sf_dir):
    """Month-over-month identity: total(m) = total(m-1) + new +
    expansion - contraction - churned, for every consecutive pair."""
    from pyspark.sql import functions as F

    out = sorted(
        all_queries()["analytics_mrr_movements"].fn(spark, sf_dir).collect(),
        key=lambda r: r["month_idx"],
    )
    assert out
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    monthly_total = {
        r["m"]: r["c"]
        for r in o.groupBy(
            (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias("m")
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("c"))
        .collect()
    }
    for r in out:
        assert r["total_cents"] == monthly_total.get(r["month_idx"], 0)
        prev_total = monthly_total.get(r["month_idx"] - 1, 0)
        delta = r["new_cents"] + r["expansion_cents"] - r["contraction_cents"] - r["churned_cents"]
        assert r["total_cents"] == prev_total + delta


def test_mann_kendall_agrees_with_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    r = all_queries()["stats_mann_kendall"].fn(spark, sf_dir).collect()[0]
    daily = sorted(
        (x["day"], x["c"])
        for x in spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("c"))
        .collect()
    )
    vals = [c for _, c in daily]
    s = sum(
        (1 if b > a else -1 if b < a else 0)
        for i, a in enumerate(vals)
        for b in vals[i + 1:]
    )
    assert r["s"] == s
    assert r["n"] == len(vals)
    assert r["n_pairs"] == len(vals) * (len(vals) - 1) // 2


def test_rolling_regression_window_sizes(spark, sf_dir):
    out = sorted(
        all_queries()["window_rolling_regression"].fn(spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert out
    for i, r in enumerate(out):
        assert r["n_window"] == min(i + 1, 7)
        if r["r2_7d"] is not None:
            assert -1e-9 <= r["r2_7d"] <= 1.0 + 1e-9


def test_grouping_id_levels(spark, sf_dir):
    out = all_queries()["agg_grouping_id"].fn(spark, sf_dir).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 3}
    assert len(by_gid[3]) == 1  # grand total
    total = by_gid[3][0]["n"]
    assert sum(r["n"] for r in by_gid[1]) == total
    assert sum(r["n"] for r in by_gid[0]) == total
    for r in by_gid[1]:
        assert r["priority"] == "ALL" and r["status"] != "ALL"


def test_caption_filter_partitions_and_density(spark, sf_dir):
    out = all_queries()["multimodal_caption_filter"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_pairs"] for r in out) == docs.count()
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_pairs"]
        assert r["min_density"] <= r["max_density"]
        # kept_rate must be consistent with the density bounds: if even
        # the max density is below the floor, nothing can be kept
        if r["max_density"] < 8.0:
            assert r["n_kept"] == 0


def test_join_fanout_matches_direct_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    out = {r["fk_edge"]: r for r in all_queries()["profile_join_fanout"].fn(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    per_order = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    mx = per_order.agg(F.max("c")).collect()[0][0]
    assert out["orders->lineitem"]["max_fanout"] == mx
    assert out["orders->lineitem"]["n_keys"] == per_order.count()


def test_label_disagreement_contingency(spark, sf_dir):
    out = all_queries()["pipeline_label_disagreement"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert 0 <= r["n_near"] <= r["n_pairs"]
        assert 0 <= r["n_disagree"] <= r["n_near"]
        if r["label_a"] == r["label_b"]:
            assert r["n_disagree"] == 0  # same-label cells cannot disagree
    assert any(r["n_disagree"] > 0 for r in out)  # fixture has noisy neighbors


def test_nearest_centroid_confusion_covers_test_set(spark, sf_dir):
    from pyspark.sql import functions as F

    out = all_queries()["similarity_nearest_centroid_eval"].fn(spark, sf_dir).collect()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_test = e.filter(F.col("vec_id") % 2 == 1).count()
    assert sum(r["n"] for r in out) == n_test  # every test vector classified once
    # labels live in the same domain on both axes; no invented classes
    labels = {r[0] for r in e.select("label").distinct().collect()}
    for r in out:
        assert r["true_label"] in labels and r["pred_label"] in labels
        assert r["n"] > 0
    # NOTE: no accuracy floor asserted — the synthetic labels are not
    # geometrically clustered (sf0.001 diagonal is ~7%, near the 10%
    # chance line), and the operator's contract is the confusion matrix,
    # not a quality bar.


def test_conversation_assembly_order_and_truncation(spark, sf_dir):
    out = all_queries()["pipeline_conversation_assembly"].fn(spark, sf_dir).collect()
    assert out
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["event_type"]))
    for r in out:
        seq = [t for _, _, t in sorted(by_user[r["user_id"]])]
        assert r["n_turns_raw"] == len(seq)
        assert r["dialog"] == ">".join(seq[:16])
        assert r["truncated"] == (1 if len(seq) > 16 else 0)
        assert r["first_turn"] == seq[0]
        assert r["last_kept_turn"] == seq[: 16][-1]


def test_rfm_migration_mass_conserved(spark, sf_dir):
    from pyspark.sql import functions as F

    out = all_queries()["stats_rfm_migration"].fn(spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    all_custs = o.select("o_custkey").distinct().count()
    assert sum(r["n_custs"] for r in out) == all_custs
    # quintiles are near-equal in each period among active customers
    p1_active = (
        o.filter(F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
        .select("o_custkey").distinct().count()
    )
    p1_cells = [r for r in out if r["m_before"] > 0]
    assert sum(r["n_custs"] for r in p1_cells) == p1_active
    assert all(0 <= r["m_before"] <= 5 and 0 <= r["m_after"] <= 5 for r in out)


def test_url_canonical_collapses_variants(spark, sf_dir):
    out = all_queries()["pipeline_url_canonical_dedup"].fn(spark, sf_dir).collect()
    assert out
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    for r in out:
        url = r["canonical"]
        # canonical invariants: no fragments, no tracking params, host lowered
        assert "#" not in url
        assert "utm_" not in url and "fbclid" not in url and "gclid" not in url
        host = url.split("://")[1].split("/")[0]
        assert host == host.lower()
        # no dangling separator left behind by tracking-param stripping
        assert "&id=" not in url.split("?")[0]
        # ALL four raw spellings of a page collapse to one canonical URL,
        # and the keeper is the group min (doc_id % 4 == 0 row)
        assert r["n_raw_urls"] == 4
        assert r["keeper_doc"] % 4 == 0
    # every doc_id belongs to exactly one collapsed group
    assert sum(r["n_raw_urls"] for r in out) == n_docs


def test_hits_scores_normalized_and_positive(spark, sf_dir):
    out = all_queries()["graph_hits_bipartite"].fn(spark, sf_dir).collect()
    hubs = [r for r in out if r["side"] == "hub"]
    auths = [r for r in out if r["side"] == "authority"]
    assert hubs and auths
    for rows in (hubs, auths):
        assert all(r["score"] > 0 for r in rows)
        assert abs(sum(r["score"] for r in rows) - 1.0) < 1e-4  # L1 normalized


def test_kaplan_meier_monotone_and_bounded(spark, sf_dir):
    out = sorted(
        all_queries()["stats_kaplan_meier"].fn(spark, sf_dir).collect(),
        key=lambda r: r["t_days"],
    )
    assert out
    prev_s, prev_risk = 1.0 + 1e-12, None
    for r in out:
        assert 0.0 <= r["survival"] <= 1.0
        assert r["survival"] <= prev_s + 1e-9  # S(t) non-increasing
        assert 1 <= r["n_deaths"] <= r["n_risk"]
        if prev_risk is not None:
            assert r["n_risk"] <= prev_risk  # risk set shrinks over time
        prev_s, prev_risk = r["survival"], r["n_risk"]


def test_bollinger_band_geometry(spark, sf_dir):
    out = all_queries()["window_bollinger_bands"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["band_lo"] <= r["sma"] <= r["band_hi"]
        if r["breakout"] == 1:
            assert r["cents"] > r["band_hi"]
        elif r["breakout"] == -1:
            assert r["cents"] < r["band_lo"]
        else:
            assert r["band_lo"] <= r["cents"] <= r["band_hi"]


def test_rls_view_isolates_tenant(spark, sf_dir):
    out = all_queries()["sql_row_level_security"].fn(spark, sf_dir).collect()
    assert out
    assert all(r["o_custkey"] % 10 == 3 for r in out)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import functions as F

    assert len(out) == o.filter(F.col("o_custkey") % 10 == 3).count()


def test_cas_partitions_and_conflicts(spark, sf_dir):
    out = {r["cas"]: r for r in all_queries()["kv_cas_conditional_update"].fn(spark, sf_dir).collect()}
    assert set(out) == {"applied", "conflict"}
    lww = all_queries()["kv_lww_upsert"].fn(spark, sf_dir).collect()
    evens = sum(1 for r in lww if int(r["key"]) % 2 == 0)
    odds = len(lww) - evens
    # every even key applies; odd keys conflict except those whose live
    # value happens to equal the stale guess 'view'
    odd_views = sum(1 for r in lww if int(r["key"]) % 2 == 1 and r["value"] == "view")
    assert out["applied"]["n_keys"] == evens + odd_views
    assert out["conflict"]["n_keys"] == odds - odd_views


def test_bitemporal_restatement_consistency(spark, sf_dir):
    from pyspark.sql import functions as F

    out = all_queries()["temporal_bitemporal_asof"].fn(spark, sf_dir).collect()
    assert out
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert sum(r["n_orders_k2"] for r in out) == o.count()
    # restated orders: corrected (key % 50 == 0) AND visible at K1
    want = o.filter(
        (F.col("o_orderkey") % 50 == 0)
        & (F.col("o_orderdate") <= F.lit("1997-06-01").cast("date"))
    ).count()
    assert sum(r["n_restated"] for r in out) == want
    # K2 totals reflect the -10% corrections: strictly less than raw sums
    raw = {
        r["o_orderstatus"]: r["t"]
        for r in o.groupBy("o_orderstatus").agg(F.round(F.sum("o_totalprice"), 2).alias("t")).collect()
    }
    for r in out:
        assert r["total_as_known_k2"] < raw[r["o_orderstatus"]]


def test_gram_matrix_diagonal_positive_symmetric_source(spark, sf_dir):
    out = all_queries()["similarity_gram_matrix"].fn(spark, sf_dir).collect()
    by_cell = {(r["dim_i"], r["dim_j"]): r["gram"] for r in out}
    dims = {r["dim_i"] for r in out} | {r["dim_j"] for r in out}
    d = max(dims)
    assert len(out) == d * (d + 1) // 2  # full upper triangle
    for i in range(1, d + 1):
        assert by_cell[(i, i)] >= 0  # diagonal = sum of squares
    # spot-check one cell against a direct computation
    import numpy as np

    vecs = np.array(
        [r["embedding"] for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()],
        dtype=np.float64,
    )
    want = float((vecs[:, 0] * vecs[:, 1]).sum())
    assert abs(by_cell[(1, 2)] - round(want, 4)) < 1e-2


def test_clock_skew_audit_flags_real_inversions(spark, sf_dir):
    out = all_queries()["profile_clock_skew_audit"].fn(spark, sf_dir).collect()
    assert out  # the jittered arrival order must produce inversions
    for r in out:
        assert r["n_inversions"] >= 1
        assert r["max_skew_us"] > 0
        assert r["n_inversions"] < r["n_events"]


def test_drawdown_invariants(spark, sf_dir):
    out = sorted(
        all_queries()["window_max_drawdown"].fn(spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert out
    peak = None
    for r in out:
        peak = r["equity"] if peak is None else max(peak, r["equity"])
        assert r["peak"] == peak
        assert r["drawdown_cents"] == peak - r["equity"] >= 0
        assert 0.0 <= r["drawdown_frac"] < 1.0


def test_accumulating_snapshot_lags_nonneg(spark, sf_dir):
    out = all_queries()["temporal_accumulating_snapshot"].fn(spark, sf_dir).collect()
    assert out
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert sum(r["n_orders"] for r in out) == o.count()
    for r in out:
        assert r["total_ship_span_days"] >= 0
        assert 0 <= r["n_unshipped"] <= r["n_orders"]
        assert r["max_lines"] >= 0


def test_cohens_kappa_identity(spark, sf_dir):
    r = all_queries()["stats_cohens_kappa"].fn(spark, sf_dir).collect()[0]
    assert r["n"] == r["n11"] + r["n10"] + r["n01"] + r["n00"]
    assert 0.0 <= r["p_observed"] <= 1.0
    assert 0.0 < r["p_expected"] < 1.0
    # kappa <= 1 always; equals 1 iff perfect agreement
    assert r["kappa"] <= 1.0 + 1e-9
    want = (r["p_observed"] - r["p_expected"]) / (1.0 - r["p_expected"])
    assert abs(r["kappa"] - want) < 5e-6


def test_wilson_interval_brackets_and_bounded(spark, sf_dir):
    r = all_queries()["stats_wilson_interval"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= r["wilson_lo"] <= r["p_hat"] <= r["wilson_hi"] <= 1.0
    # Wilson never collapses to a point for 0 < k < n
    if 0 < r["k"] < r["n"]:
        assert r["wilson_lo"] < r["wilson_hi"]


def test_gram_arrow_equals_declarative(spark, sf_dir):
    """Two implementations, one contract: the numpy mapInArrow kernel
    must reproduce the declarative explode-aggregate cell for cell."""
    a = {
        (r["dim_i"], r["dim_j"]): r["gram"]
        for r in all_queries()["similarity_gram_matrix"].fn(spark, sf_dir).collect()
    }
    b = {
        (r["dim_i"], r["dim_j"]): r["gram"]
        for r in all_queries()["similarity_gram_matrix_arrow"].fn(spark, sf_dir).collect()
    }
    assert set(a) == set(b)
    for cell in a:
        assert abs(a[cell] - b[cell]) < 2e-4, cell
