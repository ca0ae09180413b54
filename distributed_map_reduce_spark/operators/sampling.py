"""Sampling operators: Bernoulli, stratified, and deterministic
hash-based sampling.

Random samples are engine-specific by construction (seeded RNG streams
differ), so the oracle-checkable form is *hash sampling* — a
deterministic predicate on a key hash, the technique production
pipelines use anyway so that re-runs and engines agree on the sample.
The seeded RNG forms are registered rows-only.

Scale posture: all three are narrow (scan + filter, no shuffle);
sampleBy's per-stratum fractions make downsampling-the-majority-class
a one-liner at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_sql
from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table


@register(
    "sample_hash_deterministic",
    tags=("sampling",),
    oracle=f"""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
WHERE {md5_int_sql("CAST(o_orderkey AS VARCHAR)", 8)} % 100 < 10
""",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample: hash(key) mod 100 < 10. Stable across
    engines, runs, and cluster sizes — the reproducible-experiment
    sampler (same md5-prefix trick as the portable MinHash)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = md5_int(F.col("o_orderkey").cast("string"), 8) % 100
    return o.filter(bucket < 10).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total")
    )


@register(
    "sample_bernoulli",
    tags=("sampling",),
    oracle=f"""
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders
WHERE {md5_int_sql("'bern:' || CAST(o_orderkey AS VARCHAR)", 8)} % 100 < 10
""",
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli p=0.10 sample with a PORTABLE coin: the per-row flip is
    md5('bern:'||key) mod 100 — uniform like df.sample but identical
    across engines, reruns, and partitionings, so it is oracle-checkable
    (df.sample's seeded RNG stream is engine-specific ⇒ was a permanent
    `no_oracle` row, VERDICT r2 item 6). A salt distinct from
    sample_hash_deterministic's keeps the two samples independent."""
    o = load_table(spark, sf_dir, "orders")
    bucket = md5_int(F.concat(F.lit("bern:"), F.col("o_orderkey").cast("string")), 8) % 100
    return o.filter(bucket < 10).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@register(
    "sample_stratified",
    tags=("sampling",),
    oracle=f"""
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE {md5_int_sql("'strat:' || CAST(o_orderkey AS VARCHAR)", 8)} % 100
      < CASE o_orderstatus WHEN 'O' THEN 5 WHEN 'F' THEN 50 ELSE 100 END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum fractions (downsample the
    dominant order status: O 5%, F 50%, P 100%) — sampleBy semantics,
    but the per-row coin is a portable md5 pick instead of engine RNG so
    the sample is reproducible and oracle-checkable. Narrow plan: scan +
    filter, no shuffle, same as sampleBy."""
    o = load_table(spark, sf_dir, "orders")
    bucket = md5_int(F.concat(F.lit("strat:"), F.col("o_orderkey").cast("string")), 8) % 100
    threshold = (
        F.when(F.col("o_orderstatus") == "O", 5)
        .when(F.col("o_orderstatus") == "F", 50)
        .otherwise(100)
    )
    return o.filter(bucket < threshold).select("o_orderkey", "o_orderstatus")


@register(
    "sample_reservoir_per_group",
    tags=("sampling", "window"),
    oracle="""
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
         ) AS rn
  FROM orders
)
WHERE rn <= 5
""",
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (k=5): rank rows inside each
    group by md5(key) — a uniform-but-reproducible permutation — and
    keep the first k. The distributed stand-in for per-group reservoir
    sampling: same sample on every engine, rerun, and cluster size,
    which seeded RNG reservoirs cannot promise once partitioning
    changes. Catalyst turns the rank+filter into WindowGroupLimit, so
    each task keeps a k-row heap per group — no full sort, no
    group-sized state, safe under 100 TB skew."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("o_orderpriority").orderBy(
            F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
        )
    )
    return (
        o.withColumn("rn", rn)
        .filter(F.col("rn") <= 5)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


@register(
    "sample_variance_quota",
    tags=("sampling", "stats"),
    oracle="""
WITH moments AS (
  SELECT o_orderpriority,
         count(*) AS n,
         round(stddev_samp(o_totalprice), 6) AS sd
  FROM orders GROUP BY 1
), alloc AS (
  SELECT o_orderpriority AS g, n,
         CAST(greatest(round(200.0 * (n * sd)
              / (SELECT sum(n * sd) FROM moments)), 1) AS BIGINT) AS quota
  FROM moments
), ranked AS (
  SELECT o.o_orderpriority, o.o_orderkey, round(o.o_totalprice, 2) AS total,
         row_number() OVER (
           PARTITION BY o.o_orderpriority
           ORDER BY md5(CAST(o.o_orderkey AS VARCHAR)), o.o_orderkey
         ) AS rn
  FROM orders o
)
SELECT r.o_orderpriority, a.quota, r.o_orderkey, r.total
FROM ranked r JOIN alloc a ON a.g = r.o_orderpriority
WHERE r.rn <= a.quota
""",
)
def sample_variance_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-style allocation sampling: a 200-row budget splits across
    strata proportionally to N_h·σ_h (high-variance strata get more
    rows — the minimum-variance estimator allocation), then each
    stratum takes its quota deterministically by md5 rank. Two passes:
    a moment agg (tiny) broadcast into the rank filter. σ rounds at 6dp
    BEFORE the allocation arithmetic so both engines compute identical
    quotas; within-stratum selection reuses the reservoir-sample
    pattern (WindowGroupLimit would apply if quotas were uniform)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    moments = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("o_totalprice"), 6).alias("sd"),
    )
    tot = moments.agg(F.sum(F.col("n") * F.col("sd")).alias("t"))
    alloc = moments.crossJoin(tot).select(
        "g",
        F.greatest(
            F.round(200.0 * (F.col("n") * F.col("sd")) / F.col("t")), F.lit(1.0)
        )
        .cast("bigint")
        .alias("quota"),
    )
    rn = F.row_number().over(
        W.partitionBy("o_orderpriority").orderBy(
            F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
        )
    )
    ranked = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
    ).withColumn("rn", rn)
    return (
        ranked.join(alloc, ranked.o_orderpriority == alloc.g)
        .filter(F.col("rn") <= F.col("quota"))
        .select("o_orderpriority", "quota", "o_orderkey", "total")
    )


PRIORITY_K = 100  # weighted-sample size


@register(
    "sample_weighted_priority",
    tags=("sampling", "pipeline"),
    oracle=f"""
SELECT rn AS pick, doc_id, n_chars
FROM (
  SELECT doc_id, n_chars,
         row_number() OVER (
           ORDER BY {md5_int_sql("'pri:' || CAST(doc_id AS VARCHAR)")} * 1.0
                    / n_chars,
                    doc_id
         ) AS rn
  FROM documents
  WHERE n_chars > 0
)
WHERE rn <= {PRIORITY_K}
""",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement via PRIORITY
    SAMPLING (Duffield, Lund & Thorup 2007): give each row priority
    u_i / w_i with u_i a uniform hash and w_i its weight, keep the k
    smallest — inclusion probability is ~proportional to weight, the
    way a quality- or length-weighted corpus subsample is drawn. The
    classic Efraimidis-Spirakis key u^(1/w) needs ln/pow, whose last
    ulp is libm-implementation-specific and could flip a rank between
    engines; priority sampling needs ONE DIVISION, which IEEE 754
    specifies exactly — so the sample is bit-identical on Spark and
    DuckDB and the oracle checks membership, not just counts.

    The output carries the integer pick rank, not the raw priority:
    the ~1e14-magnitude priority doubles are bit-identical across
    engines (division is IEEE-exact) but round(x, 6) at that magnitude
    renders differently, so ranks — which encode the full sample order
    losslessly — are the portable surface.

    Scale: TakeOrderedAndProject again — each partition forwards its
    local k best priorities; no global sort, no RNG state, and the
    sample is reproducible across reruns, engines, and cluster sizes."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = md5_int(F.concat(F.lit("pri:"), F.col("doc_id").cast("string")))
    pri = u.cast("double") / F.col("n_chars")
    # bottom-k FIRST (TakeOrderedAndProject — k rows/partition forwarded),
    # then rank the k survivors; a global row_number window over the full
    # table would funnel every row through one partition.
    topk = (
        d.select("doc_id", "n_chars", pri.alias("_pri"))
        .orderBy(F.col("_pri").asc(), F.col("doc_id").asc())
        .limit(PRIORITY_K)
    )
    w = Window.orderBy(F.col("_pri").asc(), F.col("doc_id").asc())  # frame: bounded (k rows after TakeOrderedAndProject)
    return topk.select(
        F.row_number().over(w).alias("pick"), "doc_id", "n_chars"
    )


@register(
    "sample_importance_reweight",
    tags=("sampling", "stats", "eval"),
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum({to_cents_sql("value")}) AS BIGINT) AS sx
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_s) AS BIGINT) AS n,
         CAST(sum(sx) AS DOUBLE) AS sx_all,
         sum(sx * 1.0 / n_s) AS sum_stratum_means,
         sum(1.0 / n_s) AS sum_inv
  FROM s
)
SELECT k AS n_strata,
       n AS n_events,
       round(sx_all / n, 4) AS raw_mean_cents,
       round(sum_stratum_means / k, 4) AS reweighted_mean_cents,
       round(k * k / sum_inv, 2) AS ess,
       round(k * k / sum_inv / n, 6) AS ess_frac
FROM tot
""",
)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance reweighting to a UNIFORM target over (event_type x
    weekday) strata — the covariate-shift correction applied when an
    eval sample's mix differs from the deployment mix (Shimodaira '00):
    per-event weight w = target_share/source_share collapses
    algebraically to 'mean of stratum means', and the effective sample
    size ESS = (Sum w)^2 / Sum w^2 = k^2 / Sum(1/n_s) says how much
    statistical power the reweighting really left (ess_frac near 1 =
    balanced source; near 0 = a few starved strata dominate the
    variance — the number to check BEFORE trusting the corrected
    metric). Everything reduces over per-stratum exact integers: one
    stratum-keyed hash agg then a k-row projection; no per-event float
    weights ever materialize, so there is no accumulation-order
    hazard and no second scan."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).cast("bigint").alias("dow"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum(to_cents("value")).cast("bigint").alias("sx"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum("sx").cast("double").alias("sx_all"),
        F.sum(F.col("sx") * 1.0 / F.col("n_s")).alias("sum_stratum_means"),
        F.sum(1.0 / F.col("n_s")).alias("sum_inv"),
    )
    return tot.select(
        F.col("k").alias("n_strata"),
        F.col("n").alias("n_events"),
        F.round(F.col("sx_all") / F.col("n"), 4).alias("raw_mean_cents"),
        F.round(F.col("sum_stratum_means") / F.col("k"), 4).alias(
            "reweighted_mean_cents"
        ),
        F.round(F.col("k") * F.col("k") / F.col("sum_inv"), 2).alias("ess"),
        F.round(F.col("k") * F.col("k") / F.col("sum_inv") / F.col("n"), 6).alias(
            "ess_frac"
        ),
    )


HOEFF_FRACS = (1, 10, 100)  # per-mille sampling rates: 0.1%, 1%, 10%


@register(
    "sample_hoeffding_certificate",
    tags=("sample", "stats"),
    oracle=f"""
WITH base AS (
  SELECT o_orderkey,
         {to_cents_sql("o_totalprice")} AS cents,
         {md5_int_sql("'hc-' || o_orderkey", 8)} % 1000
           AS coin
  FROM orders
), truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s_all,
         CAST(max(cents) AS BIGINT) AS hi,
         CAST(min(cents) AS BIGINT) AS lo
  FROM base
), rates AS (
  SELECT unnest([1, 10, 100]) AS permille
), cells AS (
  SELECT r.permille,
         CAST(count(*) FILTER (WHERE b.coin < r.permille) AS BIGINT) AS n_s,
         CAST(sum(CAST(b.cents AS HUGEINT)) FILTER (WHERE b.coin < r.permille)
              AS HUGEINT) AS s_s
  FROM base b CROSS JOIN rates r
  GROUP BY r.permille
)
SELECT c.permille,
       c.n_s AS n_sampled,
       round(CAST(c.s_s AS DOUBLE) / c.n_s / 100, 2) AS sample_mean,
       round(CAST(t.s_all AS DOUBLE) / t.n_all / 100, 2) AS true_mean,
       round(abs(CAST(c.s_s AS DOUBLE) / c.n_s
                 - CAST(t.s_all AS DOUBLE) / t.n_all) / 100, 2) AS abs_error,
       round((t.hi - t.lo) * sqrt(ln(2e0 / 0.05) / (2 * c.n_s)) / 100, 2)
         AS hoeffding_bound_95,
       CAST(CASE WHEN abs(CAST(c.s_s AS DOUBLE) / c.n_s
                          - CAST(t.s_all AS DOUBLE) / t.n_all)
                      <= (t.hi - t.lo) * sqrt(ln(2e0 / 0.05) / (2 * c.n_s))
                 THEN 1 ELSE 0 END AS BIGINT) AS within_bound
FROM cells c, truth t
WHERE c.n_s > 0
""",
)
def sample_hoeffding_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-error CERTIFICATE: for deterministic hash samples at
    0.1% / 1% / 10%, the measured mean-estimation error next to the
    95% Hoeffding bound (range * sqrt(ln(2/delta) / 2n)) — the
    distribution-free guarantee that turns "we sampled" into "we
    sampled and the answer is within +-X at 95%". This is the number
    that justifies every sampled dashboard over the 100 TB table: the
    bound needs only the value RANGE and the sample SIZE, both one agg
    away, no variance estimate, no normality assumption
    ([[sample_variance_quota]] is the variance-aware refinement; this
    is its worst-case floor). All three rates compute in ONE scan via
    the nested-sample trick: coin < 1 implies coin < 10 implies
    coin < 100, so the samples are telescoping subsets — exactly how a
    production sampling service maintains consistent multi-rate views.
    Moments accumulate as exact integer cents (HUGEINT/decimal twin).

    Scale: one scan, one grid agg with map-side combine; the md5 coin
    makes every engine and every rerun pick the identical sample."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        to_cents("o_totalprice").alias("cents"),
        (md5_int(F.concat(F.lit("hc-"), F.col("o_orderkey").cast("string")), 8) % 1000).alias(
            "coin"
        ),
    )
    truth = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_all"),
        F.max("cents").cast("bigint").alias("hi"),
        F.min("cents").cast("bigint").alias("lo"),
    )
    rates = spark.createDataFrame([(r,) for r in HOEFF_FRACS], "permille int")
    in_sample = F.col("coin") < F.col("permille")
    cells = (
        base.crossJoin(F.broadcast(rates))
        .groupBy("permille")
        .agg(
            F.count_if(in_sample).cast("bigint").alias("n_s"),
            F.sum(F.when(in_sample, F.col("cents").cast("decimal(38,0)"))).alias(
                "s_s"
            ),
        )
    )
    import math

    bound = (F.col("hi") - F.col("lo")) * F.sqrt(
        F.lit(math.log(2.0 / 0.05)) / (2 * F.col("n_s"))
    )
    err = F.abs(
        F.col("s_s").cast("double") / F.col("n_s")
        - F.col("s_all").cast("double") / F.col("n_all")
    )
    # a rate whose sample came up EMPTY at a tiny sf emits no row (both
    # engines identically) rather than a NULL-propagating 0/0 ratio
    return cells.where(F.col("n_s") > 0).crossJoin(F.broadcast(truth)).select(
        "permille",
        F.col("n_s").alias("n_sampled"),
        F.round(F.col("s_s").cast("double") / F.col("n_s") / 100, 2).alias(
            "sample_mean"
        ),
        F.round(F.col("s_all").cast("double") / F.col("n_all") / 100, 2).alias(
            "true_mean"
        ),
        F.round(err / 100, 2).alias("abs_error"),
        F.round(bound / 100, 2).alias("hoeffding_bound_95"),
        (err <= bound).cast("bigint").alias("within_bound"),
    )
