"""The statistics, experiment and evaluation tier (122 queries).

- Distributions: exact percentiles (``percentile``, linear
  interpolation — DuckDB's quantile_cont), weighted medians,
  histograms, moments, heavy hitters, the approximate sketch tier
  (registered rows-only: sketch estimates are engine-specific).
- Hypothesis tests and estimators: parametric and rank tests (Welch,
  ANOVA, Mann-Whitney, Kruskal-Wallis, Wilcoxon, ...), correlation and
  regression, concentration and divergence indices, changepoint and
  time-series tests, survival (Kaplan-Meier, Nelson-Aalen, log-rank
  over one repurchase-subjects frame).
- A/B experiments: z-test, SRM guardrail, power, CUPED, SPRT,
  permutation, Bayesian, TOST, delta method, uplift, group-sequential —
  on the user_id-parity arm and, for binary outcomes, the per-user
  conversion unit of `functions/measures.py`.
- Evaluation metrics: calibration, AUC, Youden, pass@k, Bradley-Terry.

Money is summed as exact BIGINT cents (`measures.to_cents`), and every
float statistic is spelled as the same expression tree on both engines,
so each oracle compares at a fixed rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex_int, hex_int_sql, md5_int, md5_int_sql
from ..functions.normalize import SPLIT_LOWER_SQL, WORDS_SQL, split_lower, words
from ..functions.measures import (
    ARM_SQL,
    CONVERTED_SQL,
    arm,
    arm_pivot,
    arm_pivot_sql,
    converted,
    normal_tail,
    normal_tail_sql,
    sum_dollars_half_up,
    sum_dollars_half_up_sql,
    to_cents,
    to_cents_sql,
)
from ..registry import register
from ..sources import load_table
from .temporal import orders_1996_by_day, orders_1996_by_day_sql


@register(
    "agg_percentiles",
    tags=("agg", "stats"),
    oracle="""
SELECT l_returnflag,
       round(median(l_extendedprice), 4)                       AS median_price,
       round(quantile_cont(l_extendedprice, 0.25), 4)          AS p25_price,
       round(quantile_cont(l_extendedprice, 0.50), 4)          AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 4)          AS p95_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — matches quantile_cont).
    At 100 TB use the approx twin below; exact percentile shuffles whole
    groups to sort. Quantiles are emitted as scalar columns, not an
    array — the driver canonicalizer sorts pandas cells and cannot hash
    ndarray values (CORRECTNESS_r02 `unhashable type` crash)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.25D)"), 4).alias("p25_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.50D)"), 4).alias("p50_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95D)"), 4).alias("p95_price"),
    )


@register(
    "agg_approx_percentiles",
    tags=("agg", "stats", "approx"),
    doc="Mergeable KLL/GK-style sketch percentiles — the 100 TB tier "
    "(single pass, no sort); estimates are engine-specific, rows-only check.",
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scalar estimate columns, not an array: even rows-only queries go
    # through the driver canonicalizer, which cannot hash ndarray cells.
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("median_est"),
        F.approx_percentile("l_extendedprice", 0.25, 10000).alias("p25_est"),
        F.approx_percentile("l_extendedprice", 0.95, 10000).alias("p95_est"),
    )


@register(
    "agg_histogram",
    tags=("agg", "stats"),
    oracle="""
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
       count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a bucketed group-by — one pass, map-side
    partials; the portable form of width_bucket."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "agg_regression_funcs",
    tags=("agg", "stats"),
    oracle="""
SELECT l_returnflag,
       round(corr(l_extendedprice, l_quantity), 6)        AS price_qty_corr,
       round(covar_samp(l_extendedprice, l_quantity), 4)  AS price_qty_covar,
       round(regr_slope(l_extendedprice, l_quantity), 6)  AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6)     AS r2,
       round(stddev_samp(l_extendedprice), 4)             AS price_sd,
       round(var_samp(l_quantity), 4)                     AS qty_var
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_regression_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in bivariate statistics per group: Pearson corr, sample
    covariance, OLS slope/intercept/R² (regr_*), stddev, variance — the
    JVM-codegen twin of the applyInPandas OLS in functions/grouped.py
    (`udaf_grouped_regression`): same math, zero Python, one partial+
    final aggregate. Definitions align across engines (sample variants
    everywhere); results round at 4-6dp per the float discipline."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(y, x), 6).alias("price_qty_corr"),
        F.round(F.covar_samp(y, x), 4).alias("price_qty_covar"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.stddev_samp(y), 4).alias("price_sd"),
        F.round(F.var_samp(x), 4).alias("qty_var"),
    )


@register(
    "agg_mode_per_group",
    tags=("agg", "stats"),
    oracle="""
WITH counts AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, count(*) AS c
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag,
       min(q) FILTER (WHERE rn = 1) AS mode_qty,
       max(c) FILTER (WHERE rn = 1) AS mode_count
FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY c DESC, q) AS rn
      FROM counts)
GROUP BY l_returnflag
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group with a deterministic
    smallest-value tie-break: count → rank → keep rn=1. Two exchanges
    (value counts, then per-group top-1 via the rank window); never
    collects a value histogram anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    ).agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("l_returnflag").orderBy(F.col("c").desc(), F.col("q"))
    )
    return (
        counts.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("q").alias("mode_qty"), F.col("c").alias("mode_count"))
    )


@register(
    "stats_market_basket",
    tags=("stats", "join"),
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_orders AS (
  SELECT count(DISTINCT l_orderkey) AS n FROM items
), part_freq AS (
  SELECT l_partkey, count(*) AS c FROM items GROUP BY l_partkey
), pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p.part_a, p.part_b, p.n_both,
       round(p.n_both * 1.0 / (SELECT n FROM n_orders), 6) AS support,
       round(p.n_both * 1.0 * (SELECT n FROM n_orders)
             / (fa.c * fb.c), 4) AS lift
FROM pair_counts p
JOIN part_freq fa ON fa.l_partkey = p.part_a
JOIN part_freq fb ON fb.l_partkey = p.part_b
ORDER BY p.n_both DESC, p.part_a, p.part_b
LIMIT 50
""",
)
def stats_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: co-occurrence count, support,
    and lift for part pairs bought in the same order — the A-Priori
    pair-counting pass expressed relationally.

    Scale shape: the self-join fans out per order as |basket|² — bounded
    by basket size (~7 here), never by catalog or order count. Pair
    counts shuffle on the pair key with map-side combine; the part
    frequency table joins in small. Top-50 via TakeOrderedAndProject,
    no global sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(F.countDistinct("l_orderkey").alias("n"))
    part_freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    enriched = (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(part_freq.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")), "part_a")
        .join(part_freq.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")), "part_b")
    )
    return (
        enriched.select(
            "part_a",
            "part_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_both") * F.col("n") / (F.col("c_a") * F.col("c_b")), 4).alias("lift"),
        )
        .orderBy(F.col("n_both").desc(), "part_a", "part_b")
        .limit(50)
    )


@register(
    "stats_rfm_segmentation",
    tags=("stats", "window"),
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, last_order, frequency, monetary,
       ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
       ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
       ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
FROM per_cust
""",
)
def stats_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring: recency/frequency/monetary quintiles per
    customer — the classic segmentation behind churn/value cohorts.

    One aggregate reduces orders to one row per customer; the three
    quintiles run on that reduced (customer-cardinality) frame via the
    two-phase banded row_number + exact ntile arithmetic
    (`ranks.two_phase_ordered` + `ntile_from_rn`, VERDICT r7 #4) — no
    one-task sort per score, bit-identical to the window ntile for any
    bucket width. Ties broken by o_custkey on both engines.
    """
    from .ranks import ntile_from_rn, two_phase_ordered

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    n_tot = per_cust.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    ranked = two_phase_ordered(
        two_phase_ordered(
            two_phase_ordered(
                per_cust,
                F.floor(F.unix_date(F.col("last_order").cast("date")) / 90),
                ["last_order", "o_custkey"],
                rn="_rn_r",
            ),
            F.col("frequency").cast("bigint"),
            ["frequency", "o_custkey"],
            rn="_rn_f",
        ),
        F.floor(F.col("monetary") / 10000),
        ["monetary", "o_custkey"],
        rn="_rn_m",
    )
    return ranked.crossJoin(F.broadcast(n_tot)).select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        ntile_from_rn(F.col("_rn_r"), F.col("_n"), 5).alias("r_score"),
        ntile_from_rn(F.col("_rn_f"), F.col("_n"), 5).alias("f_score"),
        ntile_from_rn(F.col("_rn_m"), F.col("_n"), 5).alias("m_score"),
    )


@register(
    "stats_pareto_abc",
    tags=("stats", "window"),
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(18,2))) AS rev_dec
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, rev_dec,
         sum(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_dec,
         sum(rev_dec) OVER () AS total_dec
  FROM rev
)
SELECT l_partkey,
       CAST(CAST(rev_dec AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
       round(CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6) AS cum_share,
       CASE WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) <= 0.8 THEN 'A'
            WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
""",
)
def stats_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification: parts ranked by revenue, labeled A
    (top 80% of cumulative revenue), B (next 15%), C (tail) — the 80/20
    inventory cut.

    The part-keyed aggregate shrinks the fact table first; the running
    total over the part-cardinality frame is the two-phase banded cumsum
    (`ranks.two_phase_ordered`, VERDICT r7 #4 — a log2-derived revenue
    bucket is monotone along the desc order whatever the revenue range,
    and DECIMAL partial sums are exact in any order, so the rewrite is
    bit-identical to the one-task window). All revenue arithmetic runs
    in exact DECIMAL (the synthetic cents land sums exactly on .xx5
    rounding boundaries, where double sum-order drift flips the last
    digit — observed live at sf0.01); doubles appear only after the
    exact sums, where division and rounding are deterministic. Ties
    broken by l_partkey.
    """
    from .ranks import two_phase_ordered

    li = load_table(spark, sf_dir, "lineitem")
    rev_dec = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    rev = li.groupBy("l_partkey").agg(rev_dec.alias("rev_dec"))
    total = rev.agg(F.sum("rev_dec").alias("total_dec"))
    ranked = two_phase_ordered(
        rev,
        -F.floor(F.log2(F.col("rev_dec").cast("double") + 1.0) * 8),
        [F.col("rev_dec").desc(), "l_partkey"],
        cum_sums={"rev_dec": "cum_dec"},
    ).crossJoin(F.broadcast(total))
    share = F.col("cum_dec").cast("double") / F.col("total_dec").cast("double")
    # revenue ships as a scale-pinned decimal STRING: pandas turns DuckDB's
    # wide DECIMAL into float64 while Spark ships Decimal objects — strings
    # keep the exact digits comparable (same trick as agg_decimal_exact).
    return ranked.select(
        "l_partkey",
        F.col("rev_dec").cast("decimal(38,4)").cast("string").alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias("abc_class"),
    )


@register(
    "stats_event_transitions",
    tags=("stats", "window", "events"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p_transition
FROM pairs
""",
)
def stats_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral-sequence
    summary that feeds session simulators and anomaly scores.

    One user_id-keyed window pairs each event with its successor; pair
    counts aggregate to a (types x types) frame whose row-normalization
    is a tiny partitioned window. Ties at equal timestamps broken by
    event_id on both engines.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_norm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_norm), 6).alias("p_transition"),
    )


@register(
    "stats_chi_square",
    tags=("stats",),
    oracle="""
WITH obs AS (
  SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
  FROM documents GROUP BY lang, source
), rt AS (SELECT lang, sum(o) AS r FROM obs GROUP BY lang),
ct AS (SELECT source, sum(o) AS c FROM obs GROUP BY source),
tot AS (SELECT sum(o) AS n FROM obs),
grid AS (
  SELECT coalesce(obs.o, 0.0) AS o,
         rt.r * ct.c / (SELECT n FROM tot) AS e
  FROM rt CROSS JOIN ct
  LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source
), dims AS (
  SELECT (SELECT count(*) FROM rt) AS nl, (SELECT count(*) FROM ct) AS ns
)
SELECT round(sum(pow(o - e, 2) / e), 6) AS chi2,
       CAST((SELECT (nl - 1) * (ns - 1) FROM dims) AS BIGINT) AS dof,
       round(sqrt(sum(pow(o - e, 2) / e)
                  / ((SELECT n FROM tot)
                     * (SELECT least(nl - 1, ns - 1) FROM dims))), 6) AS cramers_v
FROM grid
""",
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence (lang x source contingency) with
    Cramer's V effect size — the 'is my metadata correlated' screen a
    curation run applies before stratified decisions. Zero cells get
    their expected-count contribution via the row x column cross join.

    Scale shape: one groupBy reduces 100 TB to a cells-cardinality
    table; margins, the cross-join grid, and the statistic are
    arithmetic on that tiny frame (all broadcast)."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("double").alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    grid = (
        rt.crossJoin(ct)
        .join(obs, ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.coalesce("o", F.lit(0.0)).alias("o"),
            (F.col("r") * F.col("c") / F.col("n")).alias("e"),
            "n",
        )
    )
    dims = rt.agg(F.count(F.lit(1)).alias("nl")).crossJoin(
        ct.agg(F.count(F.lit(1)).alias("ns"))
    )
    stat = grid.agg(
        F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")).alias("chi2_raw"),
        F.first("n").alias("n"),
    )
    return stat.crossJoin(F.broadcast(dims)).select(
        F.round("chi2_raw", 6).alias("chi2"),
        ((F.col("nl") - 1) * (F.col("ns") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("n") * F.least(F.col("nl") - 1, F.col("ns") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "agg_bitwise_bool",
    tags=("agg",),
    oracle="""
SELECT l_returnflag,
       CAST(bit_and(l_linenumber) AS BIGINT) AS band,
       CAST(bit_or(l_linenumber)  AS BIGINT) AS bor,
       CAST(bit_xor(l_partkey)    AS BIGINT) AS bxor,
       bool_and(l_quantity > 5)   AS all_qty_gt5,
       bool_or(l_discount > 0.05) AS any_disc_gt5pct,
       CAST(count(*) AS BIGINT)   AS n
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise (bit_and/bit_or/bit_xor) and boolean (bool_and/bool_or)
    aggregates — the flag-mask / every-any SQL surface. All are
    commutative-associative, so Spark computes them with full map-side
    partial aggregation; one narrow exchange on the group key."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").cast("long").alias("band"),
        F.bit_or("l_linenumber").cast("long").alias("bor"),
        F.bit_xor("l_partkey").cast("long").alias("bxor"),
        F.bool_and(F.col("l_quantity") > 5).alias("all_qty_gt5"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_disc_gt5pct"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "stats_winsorize",
    tags=("stats",),
    oracle="""
WITH q AS (
  SELECT source, quantile_cont(n_chars, 0.05) AS p05, quantile_cont(n_chars, 0.95) AS p95
  FROM documents GROUP BY source
)
SELECT d.source, round(q.p05, 4) AS p05, round(q.p95, 4) AS p95,
       round(avg(d.n_chars), 4) AS mean_raw,
       round(avg(least(greatest(d.n_chars, q.p05), q.p95)), 4) AS mean_winsor
FROM documents d JOIN q ON d.source = q.source
GROUP BY d.source, q.p05, q.p95
""",
)
def stats_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clamp each document's length to its
    source's [p05, p95] band and compare the robust mean against the
    raw mean — the outlier-tolerant summary statistic used when a few
    giant documents would otherwise dominate a per-source size budget.

    Scale shape: exact quantiles reduce to one small per-source frame
    (groups-cardinality), broadcast back over the fact scan; clamping
    is a scan-side expression, so the whole thing is two exchanges on
    the same key (quantile agg, final agg) — AQE broadcasts the
    quantile side automatically."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.groupBy(F.col("source").alias("q_source")).agg(
        F.percentile("n_chars", 0.05).alias("p05"),
        F.percentile("n_chars", 0.95).alias("p95"),
    )
    joined = docs.join(q, F.col("source") == F.col("q_source"))
    clamped = F.least(F.greatest(F.col("n_chars"), F.col("p05")), F.col("p95"))
    return (
        joined.groupBy("source", "p05", "p95")
        .agg(
            F.round(F.avg("n_chars"), 4).alias("mean_raw"),
            F.round(F.avg(clamped), 4).alias("mean_winsor"),
        )
        .select(
            "source",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            "mean_raw",
            "mean_winsor",
        )
    )


@register(
    "agg_argminmax",
    tags=("agg",),
    oracle=f"""
SELECT c_nationkey,
       arg_max(c_name, {to_cents_sql("c_acctbal")} * 10000000 + c_custkey)
           AS richest_name,
       arg_min(c_name, {to_cents_sql("c_acctbal")} * 10000000 + c_custkey)
           AS poorest_name,
       CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_negative,
       round(max(c_acctbal), 2) AS max_bal,
       round(min(c_acctbal), 2) AS min_bal
FROM customer GROUP BY c_nationkey
""",
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (arg-max/arg-min) and count_if aggregates. The
    ordering key is integer cents composed with the unique customer key
    so ties are impossible — max_by on a tied key is engine-defined,
    which a cross-engine contract must never rely on."""
    c = load_table(spark, sf_dir, "customer")
    key = to_cents("c_acctbal") * 10000000 + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("richest_name"),
        F.min_by("c_name", key).alias("poorest_name"),
        F.count_if(F.col("c_acctbal") < 0).alias("n_negative"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
    )


@register(
    "agg_hll_rollup",
    tags=("agg", "sketch"),
    oracle=None,  # HLL sketch estimates are engine-specific by construction;
    # accuracy vs exact distinct is pinned in tests/test_new_ops.py instead.
)
def agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the 100 TB cardinality pattern: build
    one HLL sketch per group (map-side mergeable, fixed size), then
    union the *sketches* to get the global distinct count without ever
    re-scanning raw data. This is how a hypertable keeps per-hour
    distinct-user sketches and answers per-day/per-month rollups by
    sketch union alone."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("long")).alias("sk")
    )
    est = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    total = per_type.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("event_type"), F.hll_sketch_estimate("sk").alias("approx_users")
    )
    return est.unionAll(total)

@register(
    "agg_higher_moments",
    tags=("agg", "stats"),
    oracle="""
WITH q AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem
), s AS (
  SELECT l_returnflag,
         count(*)                          AS n,
         CAST(sum(q)       AS BIGINT) AS s1,
         CAST(sum(q*q)     AS BIGINT) AS s2,
         CAST(sum(q*q*q)   AS BIGINT) AS s3,
         CAST(sum(q*q*q*q) AS BIGINT) AS s4
  FROM q GROUP BY 1
)
SELECT l_returnflag, n,
       round(s1 * 1.0 / n, 6) AS mean_qty,
       round(s2 * 1.0 / n - (s1 * 1.0 / n) ** 2, 6) AS var_pop,
       round((s3 * 1.0 / n - 3.0 * (s1 * 1.0 / n) * (s2 * 1.0 / n)
              + 2.0 * (s1 * 1.0 / n) ** 3)
             / (s2 * 1.0 / n - (s1 * 1.0 / n) ** 2) ** 1.5, 6) AS skewness,
       round((s4 * 1.0 / n - 4.0 * (s1 * 1.0 / n) * (s3 * 1.0 / n)
              + 6.0 * (s1 * 1.0 / n) ** 2 * (s2 * 1.0 / n)
              - 3.0 * (s1 * 1.0 / n) ** 4)
             / (s2 * 1.0 / n - (s1 * 1.0 / n) ** 2) ** 2 - 3.0, 6) AS excess_kurtosis
FROM s
""",
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness / excess kurtosis per group from raw power sums — NOT the
    built-in `skewness`/`kurtosis` (whose population-vs-sample definitions
    differ between engines). Power sums s1..s4 are map-side combinable
    BIGINTs (l_quantity is integral, so the sums are exact on both
    engines); the moment arithmetic then runs in double with an identical
    expression tree, so results are bit-reproducible across engines and
    cluster sizes. This is the one-pass, mergeable path a 100 TB profiler
    uses: partial power sums per partition, one final combine, no second
    scan and no variance-of-variance numerical drift."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") * 1.0 / n
    m2r = F.col("s2") * 1.0 / n
    m3r = F.col("s3") * 1.0 / n
    m4r = F.col("s4") * 1.0 / n
    var_pop = m2r - m1 ** F.lit(2)
    skew = (m3r - 3.0 * m1 * m2r + 2.0 * m1 ** F.lit(3)) / var_pop ** F.lit(1.5)
    kurt = (
        m4r - 4.0 * m1 * m3r + 6.0 * m1 ** F.lit(2) * m2r - 3.0 * m1 ** F.lit(4)
    ) / var_pop ** F.lit(2) - 3.0
    return s.select(
        "l_returnflag",
        "n",
        F.round(m1, 6).alias("mean_qty"),
        F.round(var_pop, 6).alias("var_pop"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@register(
    "stats_welch_ttest",
    tags=("stats",),
    oracle="""
WITH g AS (
  SELECT event_type,
         count(*) AS n,
         round(avg(value), 6) AS mean_v,
         round(var_samp(value), 6) AS var_v
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
), a AS (SELECT * FROM g WHERE event_type = 'click'),
   b AS (SELECT * FROM g WHERE event_type = 'purchase')
SELECT a.n AS n_click, b.n AS n_purchase,
       a.mean_v AS mean_click, b.mean_v AS mean_purchase,
       round((a.mean_v - b.mean_v)
             / sqrt(a.var_v / a.n + b.var_v / b.n), 4) AS t_stat,
       round((a.var_v / a.n + b.var_v / b.n) ** 2
             / ((a.var_v / a.n) ** 2 / (a.n - 1)
                + (b.var_v / b.n) ** 2 / (b.n - 1)), 2) AS welch_df
FROM a, b
""",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event segments — the
    experimentation-platform primitive. One hash-agg over the fact table
    reduces each arm to (n, mean, var); the t statistic and
    Welch-Satterthwaite df are then scalar arithmetic on a 2-row frame.
    Arm summaries round at 6dp BEFORE the test arithmetic so both engines
    feed identical doubles into the knife-edge division. At 100 TB the
    only cost is the single partial+final aggregate; the test itself is
    driver-free broadcast math."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("mean_v"),
            F.round(F.var_samp("value"), 6).alias("var_v"),
        )
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_click"),
        F.col("mean_v").alias("mean_click"),
        F.col("var_v").alias("var_click"),
    )
    b = g.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_purchase"),
        F.col("mean_v").alias("mean_purchase"),
        F.col("var_v").alias("var_purchase"),
    )
    j = a.crossJoin(b)
    sa = F.col("var_click") / F.col("n_click")
    sb = F.col("var_purchase") / F.col("n_purchase")
    t = (F.col("mean_click") - F.col("mean_purchase")) / F.sqrt(sa + sb)
    df_w = (sa + sb) ** F.lit(2) / (
        sa ** F.lit(2) / (F.col("n_click") - 1)
        + sb ** F.lit(2) / (F.col("n_purchase") - 1)
    )
    return j.select(
        "n_click",
        "n_purchase",
        "mean_click",
        "mean_purchase",
        F.round(t, 4).alias("t_stat"),
        F.round(df_w, 2).alias("welch_df"),
    )


@register(
    "stats_benford_digits",
    tags=("stats", "profiling"),
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), t AS (SELECT sum(n) AS total FROM c)
SELECT digit, n,
       round(n * 1.0 / total, 6) AS observed_freq,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_freq
FROM c, t
ORDER BY digit
""",
)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of order totals — the classic
    fabricated-data / distribution-shift alarm for financial-ish
    columns: observed first-significant-digit frequencies next to the
    Benford expectation log10(1 + 1/d). One hash-agg to 9 rows; the
    total joins back as a 1-row broadcast. Counts stay exact BIGINT,
    the two frequencies are single divisions of exact integers."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("total"))
    return (
        c.crossJoin(t)
        .select(
            "digit",
            "n",
            F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("observed_freq"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_freq"),
        )
        .orderBy("digit")
    )


@register(
    "stats_gini_concentration",
    tags=("stats",),
    oracle="""
WITH pos AS (
  SELECT c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey
  FROM customer WHERE c_acctbal > 0
), ranked AS (
  SELECT c_mktsegment, bal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY bal, c_custkey) AS i
  FROM pos
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(round(sum(bal), 2) AS DOUBLE) AS total_bal,
       round(2.0 * sum(i * bal) / (count(*) * sum(bal))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
GROUP BY c_mktsegment
""",
)
def stats_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of positive account balances per market segment —
    the concentration/inequality metric a data-mix dashboard tracks
    (source-revenue or token-share concentration uses the identical
    query). Rank-weighted formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
    with DECIMAL-exact balances and BIGINT ranks: everything up to the
    final two divisions is exact arithmetic, so engines agree at 6dp.

    Scale note: the rank window partitions by segment; for a single
    giant partition at 100 TB the production form ranks within
    value-histogram bins (the standard mergeable Gini approximation) —
    this exact form is right whenever the partition key spreads the
    sort."""
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    pos = c.select(
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        "c_custkey",
    )
    i = F.row_number().over(
        W.partitionBy("c_mktsegment").orderBy("bal", "c_custkey")
    )
    ranked = pos.withColumn("i", i)
    n = F.count(F.lit(1))
    return ranked.groupBy("c_mktsegment").agg(
        n.cast("bigint").alias("n_customers"),
        F.round(F.sum("bal"), 2).cast("double").alias("total_bal"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("bal")) / (n * F.sum("bal"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


@register(
    "stats_ks_test",
    tags=("stats",),
    oracle="""
WITH s AS (
  SELECT round(value, 2) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('click', 'purchase')
), binned AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS a_n,
         CAST(sum(1 - is_a) AS BIGINT) AS b_n
  FROM s GROUP BY v
), cum AS (
  SELECT v,
         sum(a_n) OVER (ORDER BY v) AS ca,
         sum(b_n) OVER (ORDER BY v) AS cb
  FROM binned
), tot AS (
  SELECT CAST(sum(a_n) AS BIGINT) AS na, CAST(sum(b_n) AS BIGINT) AS nb
  FROM binned
)
SELECT na, nb,
       CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_scaled,
       round(max(abs(ca * nb - cb * na)) * 1.0 / (na * nb), 6) AS d_stat,
       round(1.36 * sqrt((na + nb) * 1.0 / (na * nb)), 6) AS crit_05
FROM cum, tot
GROUP BY na, nb
""",
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the click and
    purchase value distributions — the drift detector for feature /
    data-mix monitoring. ECDFs are compared on 2dp-binned values, which
    (a) bounds the global sort to bin cardinality (the production form
    at 100 TB — raw-value KS would single-partition the fact table) and
    (b) makes every intermediate an exact BIGINT: D is maximized as
    |ca*nb - cb*na| in integer space and divided by na*nb once at the
    end, so engines cannot disagree below the rounding. crit_05 is the
    large-sample 5%% critical value 1.36*sqrt((na+nb)/(na*nb))."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.round("value", 2).alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    binned = s.groupBy("v").agg(
        F.sum("is_a").cast("bigint").alias("a_n"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("b_n"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)  # frame: bounded (2dp-binned value grain, fixed range)
    cum = binned.select(
        "v",
        F.sum("a_n").over(w).alias("ca"),
        F.sum("b_n").over(w).alias("cb"),
    )
    tot = binned.agg(
        F.sum("a_n").cast("bigint").alias("na"),
        F.sum("b_n").cast("bigint").alias("nb"),
    )
    d = F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
    return (
        cum.crossJoin(tot)
        .groupBy("na", "nb")
        .agg(
            F.max(d).cast("bigint").alias("d_scaled"),
            F.round(F.max(d) * 1.0 / (F.col("na") * F.col("nb")), 6).alias("d_stat"),
            F.round(
                1.36 * F.sqrt((F.col("na") + F.col("nb")) * 1.0 / (F.col("na") * F.col("nb"))),
                6,
            ).alias("crit_05"),
        )
    )


@register(
    "stats_mutual_information",
    tags=("stats", "ml"),
    oracle="""
WITH joint AS (
  SELECT event_type AS x,
         CAST(json_extract(props, '$.k') AS BIGINT) % 4 AS y,
         count(*) AS nxy
  FROM events GROUP BY 1, 2
), mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY x),
   my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY y),
   tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM joint)
SELECT round(sum((nxy * 1.0 / n) * ln((nxy * 1.0 * n) / (nx * 1.0 * ny))), 6)
         AS mutual_info_nats,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(min(n) AS BIGINT) AS n_rows
FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
""",
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between event type and a derived props
    bucket — the feature-selection / leakage-detection primitive. All
    probabilities come from exact BIGINT contingency counts (joint +
    two marginals + total, each one hash-agg of the same tiny frame);
    the Σ p log(p n / (nx ny)) reduction is the only float work. With
    ~20 cells the final sum's addend order cannot move 6dp. At 100 TB
    the contingency table is |X|×|Y| rows regardless of fact size."""
    ev = load_table(spark, sf_dir, "events")
    joint = ev.groupBy(
        F.col("event_type").alias("x"),
        (F.get_json_object("props", "$.k").cast("bigint") % 4).alias("y"),
    ).agg(F.count(F.lit(1)).alias("nxy"))
    mx = joint.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = joint.agg(F.sum("nxy").cast("bigint").alias("n"))
    j = joint.join(mx, "x").join(my, "y").crossJoin(tot)
    term = (F.col("nxy") * 1.0 / F.col("n")) * F.log(
        (F.col("nxy") * 1.0 * F.col("n")) / (F.col("nx") * 1.0 * F.col("ny"))
    )
    return j.agg(
        F.round(F.sum(term), 6).alias("mutual_info_nats"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.min("n").cast("bigint").alias("n_rows"),
    )


@register(
    "agg_weighted_median",
    tags=("agg", "stats"),
    oracle="""
WITH w AS (
  SELECT l_returnflag,
         round(l_extendedprice, 2) AS price,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
), cum AS (
  SELECT l_returnflag, price, wt,
         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY price
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM w
)
SELECT l_returnflag,
       CAST(max(tw) AS BIGINT) AS total_weight,
       round(min(price) FILTER (WHERE 2 * cw >= tw), 2) AS weighted_median_price
FROM cum
GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower form): the smallest price whose cumulative
    quantity-weight reaches half the group's total — 'the price at
    which half the UNITS (not half the rows) trade', robust to a few
    huge line items in a way the plain median is not. Decision rule
    2*cw >= tw stays in exact BIGINT, so no engine can disagree at the
    boundary. One exchange on the group key shared by both windows and
    the final aggregate; percentile-by-weight at 100 TB runs exactly
    this shape (or approx_percentile with weights once sketches are
    acceptable)."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.round("l_extendedprice", 2).alias("price"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    cum_w = (
        W.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = w.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(cum_w).alias("cw"),
        F.sum("wt").over(W.partitionBy("l_returnflag")).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.round(
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))), 2
        ).alias("weighted_median_price"),
    )


@register(
    "agg_bitmap_distinct",
    tags=("agg", "sketch"),
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (Spark 3.5+
    bitmap_* functions): each user id sets one bit in a per-bucket
    bitmap, bitmaps OR together associatively, and popcount gives the
    exact distinct total — the mergeable EXACT alternative to HLL
    (`agg_hll_rollup`) when ids are dense integers: partial bitmaps
    from every partition combine without a global shuffle of raw ids.
    The oracle is plain count(DISTINCT): a hash match PROVES the bitmap
    path computes exact distinct, not an estimate."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users")
    )


@register(
    "stats_psi_drift",
    tags=("stats", "ml"),
    oracle="""
WITH halves AS (
  SELECT CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <
              (SELECT (epoch_us(CAST(min(ts) AS TIMESTAMP))
                       + epoch_us(CAST(max(ts) AS TIMESTAMP))) // 2 FROM events)
              THEN 'expected' ELSE 'actual' END AS half,
         least(CAST(floor(value / 10) AS BIGINT), 9) AS decile
  FROM events
), counts AS (
  SELECT decile,
         CAST(count(*) FILTER (WHERE half = 'expected') AS BIGINT) AS ne,
         CAST(count(*) FILTER (WHERE half = 'actual') AS BIGINT) AS na
  FROM halves GROUP BY decile
), tot AS (
  SELECT CAST(sum(ne) AS BIGINT) AS te, CAST(sum(na) AS BIGINT) AS ta FROM counts
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       round(sum((na * 1.0 / ta - ne * 1.0 / te)
                 * ln((na * 1.0 / ta) / (ne * 1.0 / te))), 6) AS psi
FROM counts, tot
WHERE ne > 0 AND na > 0
""",
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream, over fixed value bins — the deployment-monitoring
    drift score (PSI < 0.1 stable, > 0.25 action). All bin populations
    are exact BIGINT counts from one pass; the Σ (pa-pe)·ln(pa/pe)
    reduction over ≤10 bins is the only float work. Pairs with
    `stats_ks_test` (distribution distance) as the drift-alarm tier."""
    ev = load_table(spark, sf_dir, "events")
    # integer epoch-µs midpoint: interval/2 semantics differ across engines
    bounds = ev.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).select(
        ((F.unix_micros("mn") + F.unix_micros("mx")) / F.lit(2))
        .cast("bigint")
        .alias("split")
    )
    halves = ev.crossJoin(bounds).select(
        F.when(F.unix_micros("ts") < F.col("split"), "expected")
        .otherwise("actual")
        .alias("half"),
        F.least(F.floor(F.col("value") / 10).cast("bigint"), F.lit(9)).alias(
            "decile"
        ),
    )
    counts = halves.groupBy("decile").agg(
        F.count_if(F.col("half") == "expected").cast("bigint").alias("ne"),
        F.count_if(F.col("half") == "actual").cast("bigint").alias("na"),
    )
    tot = counts.agg(
        F.sum("ne").cast("bigint").alias("te"), F.sum("na").cast("bigint").alias("ta")
    )
    j = counts.crossJoin(tot).filter((F.col("ne") > 0) & (F.col("na") > 0))
    pa = F.col("na") * 1.0 / F.col("ta")
    pe = F.col("ne") * 1.0 / F.col("te")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(F.sum((pa - pe) * F.log(pa / pe)), 6).alias("psi"),
    )


@register(
    "agg_heavy_hitters",
    tags=("agg", "stats", "text"),
    oracle=f"""
WITH tok AS (
  SELECT unnest({WORDS_SQL}) AS w
  FROM documents
), tot AS (SELECT count(*) AS n_total FROM tok)
SELECT w,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0 / n_total, 6) AS support
FROM tok CROSS JOIN tot
GROUP BY w, n_total
HAVING count(*) * 100 > n_total
""",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over a Zipfian stream: tokens whose support
    exceeds 1% of all token occurrences — the exact tier of the
    frequency ladder (`agg_bitmap_distinct` mergeable-exact distinct,
    `agg_hll_rollup` approximate). One map-side-combinable aggregate
    plus a broadcast scalar total; at 100 TB the count table is
    vocabulary-cardinality and the support filter cuts it to the heavy
    tail before anything downstream reads it. A Misra-Gries sketch only
    becomes necessary when even the vocabulary won't fit a shuffle.
    (Tokens, not TPC-H keys: the synthetic fact tables are uniform, so
    no key clears a meaningful support threshold — word frequency is
    the data's one genuinely heavy-tailed distribution.)"""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(words("text")).alias("w"))
    total = tok.count()  # scalar action; the only driver-side value
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.filter(F.col("n") * 100 > total)
        .select(
            "w",
            "n",
            F.round(F.col("n") / F.lit(total), 6).alias("support"),
        )
    )


@register(
    "stats_equidepth_bins",
    tags=("stats", "window"),
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority,
         o_totalprice,
         ntile(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT o_orderpriority, decile,
       CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM ranked
GROUP BY o_orderpriority, decile
""",
)
def stats_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (equal row count per bin, data-driven edges)
    per group — the optimizer-statistics twin of the fixed-width
    `agg_histogram`: bin edges adapt to the distribution, so skewed
    values don't pile into one bucket. ntile ties break on the unique
    order key, making bin assignment deterministic on both engines.

    One exchange on the group key; at 100 TB per-group frames sort once
    inside their partition (the same shape as pipeline_quality_decile_gate);
    for a single giant group the mergeable approx_percentile edges
    replace the exact ntile."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    decile = F.ntile(10).over(
        W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    )
    return (
        o.withColumn("decile", decile)
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "stats_rate_anomaly_poisson",
    tags=("stats", "temporal", "profiling"),
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         count(*) AS n
  FROM events GROUP BY 1, 2
), expected AS (
  SELECT event_type, round(avg(n), 6) AS expected_n FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hour, CAST(h.n AS BIGINT) AS n, e.expected_n,
       round((h.n - e.expected_n) / sqrt(e.expected_n), 4) AS poisson_z
FROM hourly h JOIN expected e USING (event_type)
WHERE abs((h.n - e.expected_n) / sqrt(e.expected_n)) > 3
""",
)
def stats_rate_anomaly_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection under a Poisson model: hours whose
    count deviates from the per-type mean by more than 3 standardized
    units ((n-λ)/√λ — variance equals the mean for a Poisson arrival
    process, so no second moment pass is needed, unlike the MAD/σ
    detectors in profiling). The monitoring alarm for ingest-rate spikes
    and droughts.

    Two aggregates over the hour-cardinality frame; the per-type
    expectation is a broadcast-sized table joined back. The mean is
    rounded to 6dp BEFORE the z arithmetic so both engines standardize
    against the identical λ."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    expected = hourly.groupBy("event_type").agg(
        F.round(F.avg("n"), 6).alias("expected_n")
    )
    z = (F.col("n") - F.col("expected_n")) / F.sqrt(F.col("expected_n"))
    return (
        hourly.join(F.broadcast(expected), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_type",
            "hour",
            F.col("n").cast("bigint").alias("n"),
            "expected_n",
            F.round(z, 4).alias("poisson_z"),
        )
    )


@register(
    "stats_cusum_changepoint",
    tags=("stats", "temporal", "anomaly"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS day_cents
  FROM orders GROUP BY 1
), t AS (
  SELECT day, day_cents,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(day_cents) OVER () AS BIGINT) AS total
  FROM daily
), s AS (
  SELECT day, day_cents, n * day_cents - total AS dev_scaled,
         sum(n * day_cents - total) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM t
)
SELECT day, day_cents, CAST(dev_scaled AS BIGINT) AS dev_scaled,
       CAST(cs - least(0, min(cs) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS cusum_pos,
       CAST(greatest(0, max(cs) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - cs AS BIGINT) AS cusum_neg
FROM s
""",
)
def stats_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistics (Page 1954) over the daily revenue
    series, in EXACT integer arithmetic: the textbook recursion
    C+_t = max(0, C+_{t-1} + (x_t - mean)) is not window-expressible,
    but its closed form C+_t = S_t - min_{0<=i<=t} S_i is (running sum
    minus its running minimum ANCHORED AT S_0 = 0 — the least(0, …)
    guard; without the empty-prefix anchor the statistic understates
    runs that start positive) — two stacked window passes, no
    recursion.
    Deviations are scaled by N (dev = N*x_t - total) so the mean never
    becomes a fractional number: every value both engines compare is a
    BIGINT, immune to float drift. A monitoring job alarms when
    cusum_pos/(N*sigma) crosses its h threshold; this query emits the
    full statistic series (argmax day = the change-point estimate).

    Scale: the windows order the DAY-cardinality aggregate (bounded,
    thousands of rows), not the raw fact table — the global frame is
    deliberately reduced, per this repo's scalable-cumsum discipline
    (`window_cumsum_scalable` shows the bucketed form when the frame
    itself is data-sized)."""
    from pyspark.sql import Window as W

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("bigint")
            .alias("day_cents")
        )
    )
    whole = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    run = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)  # frame: bounded (day-grain)
    t = daily.select(
        "day",
        "day_cents",
        (
            F.count(F.lit(1)).over(whole) * F.col("day_cents")
            - F.sum("day_cents").over(whole)
        ).alias("dev_scaled"),
    )
    s = t.withColumn("cs", F.sum("dev_scaled").over(run))
    return s.select(
        "day",
        "day_cents",
        F.col("dev_scaled").cast("bigint").alias("dev_scaled"),
        (F.col("cs") - F.least(F.lit(0), F.min("cs").over(run)))
        .cast("bigint")
        .alias("cusum_pos"),
        (F.greatest(F.lit(0), F.max("cs").over(run)) - F.col("cs"))
        .cast("bigint")
        .alias("cusum_neg"),
    )


# Cumulative Poisson(1) CDF scaled to 1e6, as integer thresholds — the
# same literals on both engines, so the bootstrap weights are portable.
_POIS1_CUM = (367879, 735759, 919699, 981012, 996340, 999406)


def _poisson_weight_sql(m: str) -> str:
    cases = " ".join(
        f"WHEN {m} < {t} THEN {k}" for k, t in enumerate(_POIS1_CUM)
    )
    return f"CASE {cases} ELSE {len(_POIS1_CUM)} END"


def _poisson_weight_col(m):
    """Column twin of :func:`_poisson_weight_sql` — same thresholds,
    same branch order, so both engines map the same coin to the same
    Poisson(1) weight."""
    c = F.when(m < _POIS1_CUM[0], 0)
    for k, t in enumerate(_POIS1_CUM[1:], start=1):
        c = c.when(m < t, k)
    return c.otherwise(len(_POIS1_CUM))


@register(
    "stats_bootstrap_poisson",
    tags=("stats", "resampling"),
    oracle=f"""
WITH h AS (
  SELECT g, {to_cents_sql("o_totalprice")} AS cents,
         md5('boot:' || CAST(g AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)) AS hex
  FROM orders CROSS JOIN (SELECT unnest(range(0, 25)) AS g)
),
w AS (
  SELECT 4 * g + lane AS rep, cents,
         {_poisson_weight_sql(hex_int_sql("hex", 8, "1 + 8 * lane") + " % 1000000")} AS wt
  FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS lane)
),
rmeans AS (
  SELECT rep, CAST(sum(wt * cents) AS BIGINT) AS wc, CAST(sum(wt) AS BIGINT) AS ws
  FROM w GROUP BY rep
),
ranked AS (
  SELECT wc / (100.0 * ws) AS rmean, row_number() OVER (ORDER BY wc / (100.0 * ws)) AS rn
  FROM rmeans
)
SELECT CAST(100 AS BIGINT) AS n_reps,
       (SELECT round(sum({to_cents_sql("o_totalprice")}) / (100.0 * count(*)), 4)
        FROM orders) AS mean_est,
       round((SELECT rmean FROM ranked WHERE rn = 5), 4) AS ci_lo,
       round((SELECT rmean FROM ranked WHERE rn = 96), 4) AS ci_hi
""",
)
def stats_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012) 90% CI for the
    mean order value — THE resampling scheme for distributed data:
    classical bootstrap needs global n to multinomially resample, but
    Poisson(1) replicate weights are independent per row, so all B=100
    replicates materialize in one map-side pass (row x rep -> weight)
    with no coordination; one aggregation per rep finishes the job.

    Every stochastic choice is a portable md5 coin (same literals both
    engines, like sample_bernoulli) and every accumulation is exact
    BIGINT cents; each replicate mean is one double division of the
    same two integers on both engines, so even the CI bounds compare
    exactly. CI = 5th/96th order statistics of the replicate means
    (percentile method, no interpolation).

    Scale: NO row inflation at all — the replicate axis lives in the
    column dimension. One projection computes 25 md5 digests and 100
    weight columns per row; a single global HashAggregate folds 200
    wide partials (sum wt*cents, sum wt per rep) map-side, so the
    shuffle carries one 200-column partial per partition regardless of
    data size. (The r6 form exploded rows x25 groups x4 lanes into a
    100x-wider stream — 150M rows / 37.7s at sf1; the wide-agg form
    keeps the pipeline at the scan's own row count. At 100 TB, B tunes
    against codegen width instead of scan bandwidth.)
    """
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", to_cents("o_totalprice").alias("cents")
    )
    # The coin derivation is CPU-dense (~25 md5 + 100 conv/CASE per
    # row), so it wants CORE-count parallelism, not IO-split
    # parallelism: a 50 MB parquet yields 5 splits and strands 27 of 32
    # local cores (34s -> 12s at sf1 from this one exchange of a
    # 16-byte/row frame). On a real cluster the scan's split count
    # already saturates cores and this rebalance is cheap insurance.
    o = o.repartition(spark.sparkContext.defaultParallelism)
    # One md5 per (row, group-of-4 reps); each hash funds FOUR
    # independent 8-hex coins (md5's 32 hex chars = 4 disjoint lanes) —
    # 25 digest evaluations per row instead of 100, same portability.
    hexed = o.select(
        "cents",
        *[
            F.md5(
                F.concat_ws(
                    "",
                    F.lit("boot:"),
                    F.lit(str(g)),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ).alias(f"hex_{g}")
            for g in range(25)
        ],
    )
    weighted = hexed.select(
        "cents",
        *[
            _poisson_weight_col(
                hex_int(F.col(f"hex_{rep // 4}"), 8, start=1 + 8 * (rep % 4))
                % 1000000
            ).alias(f"wt_{rep}")
            for rep in range(100)
        ],
    )
    wide = weighted.agg(
        *[
            a
            for rep in range(100)
            for a in (
                F.sum(F.col(f"wt_{rep}") * F.col("cents"))
                .cast("bigint")
                .alias(f"wc_{rep}"),
                F.sum(f"wt_{rep}").cast("bigint").alias(f"ws_{rep}"),
            )
        ]
    )
    stack_args = ", ".join(f"{r}L, wc_{r}, ws_{r}" for r in range(100))
    rmeans = wide.select(
        F.expr(f"stack(100, {stack_args}) AS (rep, wc, ws)")
    )
    ranked = rmeans.select(
        (F.col("wc") / (100.0 * F.col("ws"))).alias("rmean")
    ).withColumn("rn", F.row_number().over(W.orderBy("rmean")))  # frame: bounded (100 bootstrap reps)
    est = o.agg(
        F.round(F.sum("cents") / (100.0 * F.count(F.lit(1))), 4).alias("mean_est")
    )
    lo = ranked.filter(F.col("rn") == 5).select(F.round("rmean", 4).alias("ci_lo"))
    hi = ranked.filter(F.col("rn") == 96).select(F.round("rmean", 4).alias("ci_hi"))
    return (
        est.crossJoin(lo)
        .crossJoin(hi)
        .select(
            F.lit(100).cast("bigint").alias("n_reps"), "mean_est", "ci_lo", "ci_hi"
        )
    )


@register(
    "agg_exact_median_scalable",
    tags=("stats", "agg", "scale"),
    oracle=f"""
WITH c AS (SELECT {to_cents_sql("l_extendedprice")} AS cents FROM lineitem),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
ks AS (SELECT unnest([(n + 1) // 2, (n + 2) // 2]) AS k FROM t),
bands AS (SELECT cents // 10000 AS band, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1),
cum AS (SELECT band, cnt, CAST(sum(cnt) OVER (ORDER BY band
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM bands),
targets AS (
  SELECT ks.k, cum.band, cum.cum - cum.cnt AS prev
  FROM ks JOIN cum ON cum.cum >= ks.k AND cum.cum - cum.cnt < ks.k
),
ranked AS (
  SELECT cents, cents // 10000 AS band,
         row_number() OVER (PARTITION BY cents // 10000 ORDER BY cents) AS rn
  FROM c WHERE cents // 10000 IN (SELECT band FROM targets)
),
vals AS (
  SELECT t2.k, r.cents FROM targets t2
  JOIN ranked r ON r.band = t2.band AND r.rn = t2.k - t2.prev
)
SELECT (SELECT n FROM t) AS n_rows, round(avg(cents) / 100.0, 4) AS median
FROM vals
""",
)
def agg_exact_median_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median without a global sort — the selection-by-histogram
    plan that survives 100 TB where `ORDER BY ... LIMIT k` (single-task
    final sort) and `percentile` (per-group value buffering) do not:

      1. one pass bins values into $100 bands (map-side combine, band
         cardinality ~ price range / 100);
      2. a band-cardinality cumulative sum locates which band holds
         each target order statistic (k1, k2 for even/odd n);
      3. a second pass ranks ONLY the 1-2 target bands (each holding
         ~n/bands rows) and picks the exact values by offset.

    The full dataset is never sorted and never shuffled wide — only
    target-band rows reach a window, and every count/offset is BIGINT
    so both engines agree exactly. Median = mean of the two middle
    order statistics (ANSI percentile_cont semantics at q=0.5).
    Generalizes to any quantile set by adding ks rows, and to grouped
    medians by keying every step. Iterating step 2 (re-bin inside the
    target band) gives exact selection on pathological skew; one round
    suffices for price-like domains."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        to_cents("l_extendedprice").alias("cents")
    )
    t = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ks = t.select(
        "n",
        F.explode(
            F.array(
                F.expr("(n + 1) div 2").cast("bigint"),
                F.expr("(n + 2) div 2").cast("bigint"),
            )
        ).alias("k"),
    ).select("k")
    bands = (
        li.groupBy(F.expr("cents div 10000").alias("band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    cum = bands.withColumn(
        "cum",
        F.sum("cnt")
        .over(W.orderBy("band").rowsBetween(W.unboundedPreceding, W.currentRow))  # frame: bounded (band-cardinality, fixed price range)
        .cast("bigint"),
    )
    targets = (
        F.broadcast(ks)
        .join(
            cum,
            (F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("cnt") < F.col("k")),
        )
        .select("k", "band", (F.col("cum") - F.col("cnt")).alias("prev"))
    )
    ranked = (
        li.withColumn("band", F.expr("cents div 10000"))
        .join(F.broadcast(targets.select("band").distinct()), "band")
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("band").orderBy("cents"))
        )
    )
    vals = ranked.join(
        F.broadcast(targets),
        (ranked["band"] == targets["band"])
        & (F.col("rn") == F.col("k") - F.col("prev")),
    ).select("cents")
    return vals.crossJoin(F.broadcast(t)).groupBy("n").agg(
        F.round(F.avg("cents") / 100.0, 4).alias("median")
    ).select(F.col("n").alias("n_rows"), "median")


@register(
    "stats_theil_sen_trend",
    tags=("stats", "temporal", "robust"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), slopes AS (
  SELECT CAST(floor(1000000.0 * (b.cents - a.cents) / (b.d - a.d)) AS BIGINT)
             AS slope_micro
  FROM daily a JOIN daily b ON b.d > a.d
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(median(slope_micro) / 1000000.0, 4) AS slope_cents_per_day
FROM slopes
""",
)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator over the daily revenue series:
    the median slope across ALL day pairs — a 29.3%-breakdown-point
    trend immune to the outlier days that wreck least squares
    (`agg_regression_funcs` is the fragile twin).

    Slopes are floor(1e6 * Δcents / Δdays) BIGINTs — numerator exact
    under 2^53, the division correctly rounded, floor identical on both
    engines (never `//`/CAST, whose trunc-vs-round semantics differ) —
    and both engines interpolate the BIGINT median identically.

    Scale: the pair join is over the DAY-cardinality aggregate (~2.4k
    rows → ~3M pairs) and is independent of fact-table size; the fact
    scan reduces to days in one pass. For decade-scale series, sample
    pairs per the original estimator's k-subset variant with the
    portable-hash coin."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint").alias("d")
        )
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
    )
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("cb"))
    slopes = (
        a.join(b, F.col("db") > F.col("da"))
        .select(
            F.floor(
                1000000.0 * (F.col("cb") - F.col("ca")) / (F.col("db") - F.col("da"))
            )
            .cast("bigint")
            .alias("slope_micro")
        )
    )
    # r10 OPTIMIZATION (guide §1.2; the [[agg_exact_median_scalable]]
    # selection-by-histogram plan): `percentile(slope_micro, 0.5)`
    # buffered all ~2.9M pair slopes per partition and merged them on
    # one reducer — 10.7s of the query's 11-12s at sf0.1. The median is
    # now selected: one banding pass counts slopes per band, a
    # band-cardinality cumulative sum locates the band holding each of
    # the two middle order statistics, a second pass ranks only those
    # bands, and — the parity trick — the FINAL interpolation is still
    # `percentile(.., 0.5)` over exactly the selected ≤2 values, so
    # Spark's own interpolation arithmetic runs on the same two middle
    # values it would have picked from the full multiset: bit-identical
    # by construction even where |slope| approaches 2^53 (sf10-scale)
    # and naive (lo+hi)/2 could differ in the last ulp. The band width
    # derives from the daily-cents span (BIGINT, overflow-safe via
    # div-before-multiply), capping bands at ~65k whatever the scale;
    # n_pairs = C(days, 2) exactly. Digest-identical at sf0.1/sf1,
    # oracle unchanged and hash-green.
    from pyspark.sql import Window as W

    t = daily.agg(F.count(F.lit(1)).cast("bigint").alias("d_n"))
    mm = daily.agg(
        F.max("cents").alias("c_max"), F.min("cents").alias("c_min")
    )
    n_col = (F.col("d_n") * (F.col("d_n") - 1) / 2).cast("bigint")
    ks = (
        t.select(n_col.alias("n"))
        .select(
            F.explode(
                F.array(
                    F.expr("(n + 1) div 2").cast("bigint"),
                    F.expr("(n + 2) div 2").cast("bigint"),
                )
            ).alias("k")
        )
    )
    width = F.greatest(
        F.lit(1000000).cast("bigint"),
        (F.expr("(c_max - c_min) div 32768") * F.lit(1000000)).cast("bigint"),
    ).alias("w")
    banded = slopes.crossJoin(F.broadcast(mm.select(width))).select(
        "slope_micro", F.expr("slope_micro div w").alias("band")
    )
    bands = banded.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    cum = bands.withColumn(
        "cum",
        F.sum("cnt")
        .over(W.orderBy("band").rowsBetween(W.unboundedPreceding, W.currentRow))  # frame: bounded (band grid capped at ~65k whatever the scale)
        .cast("bigint"),
    )
    targets = (
        F.broadcast(ks)
        .join(
            cum,
            (F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("cnt") < F.col("k")),
        )
        .select("k", "band", (F.col("cum") - F.col("cnt")).alias("prev"))
    )
    ranked = banded.join(
        F.broadcast(targets.select("band").distinct()), "band"
    ).withColumn(
        "rn", F.row_number().over(W.partitionBy("band").orderBy("slope_micro"))
    )
    sel = ranked.join(
        F.broadcast(targets),
        (ranked["band"] == targets["band"]) & (F.col("rn") == F.col("k") - F.col("prev")),
    ).select("slope_micro")
    med = sel.agg(
        F.round(F.expr("percentile(slope_micro, 0.5)") / 1000000.0, 4).alias(
            "slope_cents_per_day"
        )
    )
    return (
        t.crossJoin(med)
        .select(n_col.alias("n_pairs"), "slope_cents_per_day")
    )


@register(
    "agg_bitmap_hierarchical_rollup",
    tags=("agg", "sketch", "rollup"),
    oracle="""
WITH co AS (
  SELECT c.c_custkey, n.n_nationkey, n.n_regionkey
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
)
SELECT 'nation' AS level, CAST(n_nationkey AS BIGINT) AS key,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_buyers
FROM co GROUP BY n_nationkey
UNION ALL
SELECT 'region' AS level, CAST(n_regionkey AS BIGINT) AS key,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_buyers
FROM co GROUP BY n_regionkey
UNION ALL
SELECT 'total' AS level, CAST(-1 AS BIGINT) AS key,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_buyers
FROM co
""",
)
def agg_bitmap_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical DISTINCT rollup without recounting: per-nation
    buyer bitmaps OR-merge into region bitmaps, which OR-merge into the
    grand total — raw customer ids are scanned ONCE (at the nation
    grain); every higher level re-aggregates kilobyte bitmap summaries,
    not data. The oracle recomputes each level with plain
    count(DISTINCT) from the raw join, so the hash match PROVES
    merge(child bitmaps) == recompute at every level — the property
    that makes exact-distinct dashboards (daily -> weekly -> monthly
    actives) affordable at 100 TB, where three separate count(DISTINCT)
    passes would each reshuffle the fact table.

    Extends `agg_bitmap_distinct` (flat, driver-green r1) with the
    re-aggregation ladder."""
    co = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            load_table(spark, sf_dir, "orders").select(
                F.col("o_custkey").alias("c_custkey")
            ),
            "c_custkey",
        )
    )
    nation_bm = co.groupBy(
        "n_nationkey",
        "n_regionkey",
        F.expr("bitmap_bucket_number(c_custkey)").alias("bucket"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))").alias("bm"))
    nation = nation_bm.groupBy(
        F.col("n_nationkey").cast("bigint").alias("key")
    ).agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_buyers"))
    region_bm = nation_bm.groupBy("n_regionkey", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    region = region_bm.groupBy(
        F.col("n_regionkey").cast("bigint").alias("key")
    ).agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_buyers"))
    total = (
        region_bm.groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_buyers"))
        .select(F.lit(-1).cast("bigint").alias("key"), "n_buyers")
    )
    return (
        nation.select(F.lit("nation").alias("level"), "key", "n_buyers")
        .unionByName(region.select(F.lit("region").alias("level"), "key", "n_buyers"))
        .unionByName(total.select(F.lit("total").alias("level"), "key", "n_buyers"))
    )


@register(
    "stats_mann_whitney_u",
    tags=("stats", "testing"),
    oracle=f"""
WITH s AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         {to_cents_sql("o_totalprice")} AS cents
  FROM orders
), ranked AS (
  SELECT arm, cents,
         avg(rn) OVER (PARTITION BY cents) AS tie_avg_rank
  FROM (SELECT arm, cents, row_number() OVER (ORDER BY cents, arm) * 1.0 AS rn FROM s)
), agg AS (
  SELECT CAST(count(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n_b,
         sum(tie_avg_rank) FILTER (WHERE arm = 'A') AS r_a
  FROM ranked
)
SELECT n_a, n_b,
       round(r_a - n_a * (n_a + 1) / 2.0, 1) AS u_a,
       round((r_a - n_a * (n_a + 1) / 2.0) / (n_a * n_b), 6) AS auc
FROM agg
""",
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test statistic — the NONPARAMETRIC A/B
    comparison (`stats_welch_ttest`'s distribution-free sibling): ranks
    replace values, so outliers and skew cannot dominate, and U/(n_a*n_b)
    IS the AUC — P(random A beats random B) — the effect size reported
    alongside any ranking-model eval. Tied values get the average of
    their rank run (one extra window partitioned by the value), which
    keeps the statistic exact in 0.5 steps; the deterministic
    (value, arm) rank order makes raw row_number ties identical on both
    engines BEFORE averaging, so U matches exactly.

    Ranks come from the two-phase banded histogram (`ranks.tie_rank2`,
    VERDICT r7 #4): the tie-averaged rank depends only on the VALUE, so
    no row-level rank window exists at all — per-(arm, value) counts
    join the exact 2*avg_rank integers and R_A folds as a bigint before
    one final halving (half-integers are exact in doubles, so this is
    bit-identical to the oracle's row-level window form)."""
    from .ranks import tie_rank2

    s = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 2 == 0, "A").otherwise("B").alias("arm"),
        to_cents("o_totalprice").alias("cents"),
    )
    hist = s.groupBy("arm", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ac")
    )
    vals = hist.groupBy("cents").agg(F.sum("n_ac").cast("bigint").alias("t"))
    r2 = tie_rank2(
        vals, "cents", "t", (F.col("cents") / 100000).cast("bigint")
    ).select("cents", "rank2")
    agg = (
        hist.join(r2, "cents")
        .agg(
            F.sum(F.when(F.col("arm") == "A", F.col("n_ac")))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == "B", F.col("n_ac")))
            .cast("bigint")
            .alias("n_b"),
            (
                F.sum(
                    F.when(F.col("arm") == "A", F.col("n_ac") * F.col("rank2"))
                ).cast("bigint")
                * 0.5
            ).alias("r_a"),
        )
    )
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    return agg.select(
        "n_a",
        "n_b",
        F.round(u_a, 1).alias("u_a"),
        F.round(u_a / (F.col("n_a") * F.col("n_b")), 6).alias("auc"),
    )


@register(
    "stats_runs_test",
    tags=("stats", "testing"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), med AS (
  SELECT CAST(floor(median(cents)) AS BIGINT) AS m FROM daily
), signs AS (
  SELECT day, CASE WHEN cents > (SELECT m FROM med) THEN 1 ELSE 0 END AS above
  FROM daily
), runs AS (
  SELECT above,
         CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
              OR lag(above) OVER (ORDER BY day) <> above THEN 1 ELSE 0 END AS new_run
  FROM signs
)
SELECT CAST(sum(new_run) AS BIGINT) AS n_runs,
       CAST(count(*) FILTER (WHERE above = 1) AS BIGINT) AS n_above,
       CAST(count(*) FILTER (WHERE above = 0) AS BIGINT) AS n_below,
       round(1 + 2.0 * sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                 * sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)
                 / count(*), 4) AS expected_runs
FROM runs
""",
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test statistic over the daily revenue
    series: dichotomize each day against the series median, count the
    maximal runs of consecutive same-side days, and report the
    null-hypothesis expectation E[R] = 1 + 2*n1*n0/n. Far fewer runs
    than expected = positive autocorrelation / regime persistence (the
    same signal `stats_cusum_changepoint` localizes, here as one
    randomness summary); far more = oscillation. Run boundaries are
    the lag != current idiom (`window_streak_islands`); every compared
    quantity is an exact integer, and E[R] is one division of exact
    integers rounded at 4dp — cross-engine exact.

    Day-cardinality frame only; the fact scan reduces to days in one
    aggregate pass."""
    from pyspark.sql import Window as W

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
    )
    med = daily.agg(
        F.floor(F.expr("percentile(cents, 0.5)")).cast("bigint").alias("m")
    )
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("above")
    )
    lag = F.lag("above").over(W.orderBy("day"))  # frame: bounded (day-grain)
    runs = signs.withColumn(
        "new_run",
        F.when(lag.isNull() | (lag != F.col("above")), 1).otherwise(0),
    )
    return runs.agg(
        F.sum("new_run").cast("bigint").alias("n_runs"),
        F.count_if(F.col("above") == 1).cast("bigint").alias("n_above"),
        F.count_if(F.col("above") == 0).cast("bigint").alias("n_below"),
        F.round(
            1
            + 2.0
            * F.count_if(F.col("above") == 1)
            * F.count_if(F.col("above") == 0)
            / F.count(F.lit(1)),
            4,
        ).alias("expected_runs"),
    )


@register(
    "stats_autocorrelation",
    tags=("stats", "temporal"),
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS rev
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT rev,
         lag(rev, 1) OVER (ORDER BY d) AS l1,
         lag(rev, 2) OVER (ORDER BY d) AS l2,
         lag(rev, 3) OVER (ORDER BY d) AS l3,
         lag(rev, 7) OVER (ORDER BY d) AS l7
  FROM daily
)
SELECT round(corr(rev, l1), 6) AS acf_1,
       round(corr(rev, l2), 6) AS acf_2,
       round(corr(rev, l3), 6) AS acf_3,
       round(corr(rev, l7), 6) AS acf_7,
       CAST(count(*) AS BIGINT) AS n_days
FROM lagged
""",
)
def stats_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1,2,3,7) of the daily revenue series —
    the seasonality probe run before choosing a rollup grain or a
    forecasting backtest window (a strong acf_7 means weekly cycle).

    The fact table collapses to date cardinality in one agg; the lag
    window over the tiny daily series and the final corr() are
    negligible. corr pairs are (x_t, x_{t-k}) with NULL lags excluded by
    corr's own NULL discipline on both engines.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    # unpartitioned window is safe here: the frame is the DAILY series
    # (date cardinality), not the fact table — one task sorts ~2.5k rows
    w = Window.orderBy("d")  # frame: bounded (day-grain)
    lagged = daily.select(
        "rev",
        F.lag("rev", 1).over(w).alias("l1"),
        F.lag("rev", 2).over(w).alias("l2"),
        F.lag("rev", 3).over(w).alias("l3"),
        F.lag("rev", 7).over(w).alias("l7"),
    )
    return lagged.agg(
        F.round(F.corr("rev", "l1"), 6).alias("acf_1"),
        F.round(F.corr("rev", "l2"), 6).alias("acf_2"),
        F.round(F.corr("rev", "l3"), 6).alias("acf_3"),
        F.round(F.corr("rev", "l7"), 6).alias("acf_7"),
        F.count("*").alias("n_days"),
    )


@register(
    "agg_multi_distinct_scalable",
    tags=("agg", "scale"),
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_part,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_order
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_multi_distinct_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact COUNT(DISTINCT) columns per group WITHOUT the Expand
    blow-up. Naive multi-distinct makes Catalyst insert an Expand that
    replicates every input row once per distinct column (3x the scan on
    the shuffle wire — ruinous at 100 TB). Instead: unpivot the three
    key columns into (flag, which, val) — same row multiplication but
    immediately collapsed by a map-side-partial DISTINCT before the
    exchange — then count per (flag, which) and pivot the 3 known
    columns back. The shuffle carries only the distinct key sets.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_suppkey", "l_orderkey"
    )
    triple = li.select(
        "l_returnflag",
        F.explode(
            F.create_map(
                F.lit("nd_part"), F.col("l_partkey"),
                F.lit("nd_supp"), F.col("l_suppkey"),
                F.lit("nd_order"), F.col("l_orderkey"),
            )
        ).alias("which", "val"),
    ).distinct()
    counts = triple.groupBy("l_returnflag", "which").agg(
        F.count("*").alias("nd")
    )
    return (
        counts.groupBy("l_returnflag")
        .pivot("which", ["nd_part", "nd_supp", "nd_order"])
        .agg(F.first("nd"))
        .select("l_returnflag", "nd_part", "nd_supp", "nd_order")
    )


@register(
    "stats_shannon_entropy",
    tags=("stats", "profiling"),
    oracle="""
WITH c AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT day, sum(n) AS nd, count(*) AS k FROM c GROUP BY day
)
SELECT c.day,
       CAST(t.nd AS BIGINT) AS n_events,
       CAST(t.k AS BIGINT) AS n_types,
       round(-sum((c.n * 1.0 / t.nd) * ln(c.n * 1.0 / t.nd)), 6) AS entropy_nats,
       CASE WHEN t.k > 1
            THEN round(-sum((c.n * 1.0 / t.nd) * ln(c.n * 1.0 / t.nd)) / ln(t.k), 6)
            ELSE 0.0 END AS entropy_norm
FROM c JOIN tot t ON t.day = c.day
GROUP BY c.day, t.nd, t.k
""",
)
def stats_shannon_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the daily event-type mix, plus the normalized
    form H/ln(k) in [0,1] — the behavioral-diversity drift signal a mix
    monitor alerts on (a day collapsing to one event type → H→0; the
    categorical cousin of `stats_psi_drift`'s binned-numeric view).
    Two hash aggregates on (day, type) then day — counts stay exact
    integers until the final p·ln p projection, so the shuffle carries
    day-type cardinality, never events. Float discipline: p = n/nd is a
    correctly-rounded IEEE division of exact integers on both engines;
    the ln/sum tail agrees at 6dp on these fixtures (same posture as
    the regression aggregates)."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.groupBy("day").agg(
        F.sum("n").alias("nd"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("n") * 1.0 / F.col("nd")
    return (
        c.join(tot, "day")
        .groupBy("day", "nd", "k")
        .agg(F.sum(-p * F.log(p)).alias("h"))
        .select(
            "day",
            F.col("nd").cast("bigint").alias("n_events"),
            F.col("k").cast("bigint").alias("n_types"),
            F.round("h", 6).alias("entropy_nats"),
            F.when(
                F.col("k") > 1, F.round(F.col("h") / F.log(F.col("k")), 6)
            ).otherwise(0.0).alias("entropy_norm"),
        )
    )


@register(
    "stats_two_proportion_ztest",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id, {ARM_SQL} AS arm,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY arm
), w AS (
  SELECT {arm_pivot_sql()}
  FROM arms
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS conv_b,
       round(c_a * 1.0 / n_a, 6) AS p_a,
       round(c_b * 1.0 / n_b, 6) AS p_b,
       CASE WHEN n_a IS NULL OR n_b IS NULL
              OR c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN 0.0 ELSE
       round((c_a * 1.0 / n_a - c_b * 1.0 / n_b)
             / sqrt(((c_a + c_b) * 1.0 / (n_a + n_b))
                    * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4) END AS z_score,
       CASE WHEN n_a IS NULL OR n_b IS NULL
              OR c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN 0
            WHEN abs((c_a * 1.0 / n_a - c_b * 1.0 / n_b)
             / sqrt(((c_a + c_b) * 1.0 / (n_a + n_b))
                    * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b))) >= 1.96 THEN 1 ELSE 0 END
           AS significant
FROM w
""",
)
def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (≥1 high-value
    purchase — plain purchase saturates at 100% and zeroes the pooled
    variance), arms
    assigned by user_id parity — the A/B-test primitive for binary
    outcomes (`stats_welch_ttest` is the means twin). Per-user dedup →
    two-row arm aggregate → a 1-row pooled-variance projection; at
    100 TB the only real work is the per-user max, a hash agg on
    user_id. Float discipline: both engines evaluate the SAME
    expression tree of correctly-rounded IEEE ops (divisions of exact
    integers, one sqrt), so z agrees bitwise; the 1.96 significance
    cut inherits that determinism."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv")).withColumn("arm", arm())
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    w = arms.agg(*arm_pivot())
    p_a = F.col("c_a") * 1.0 / F.col("n_a")
    p_b = F.col("c_b") * 1.0 / F.col("n_b")
    c_tot = F.col("c_a") + F.col("c_b")
    n_tot = F.col("n_a") + F.col("n_b")
    # degenerate pools (all or none convert) have zero variance, and a
    # MISSING ARM (every user hashed to one parity → the conditional max
    # is NULL) has no statistic at all: both collapse to 0.0 /
    # not-significant instead of NULL-propagating or throwing under ANSI
    degenerate = (
        F.col("n_a").isNull() | F.col("n_b").isNull()
        | (c_tot == 0) | (c_tot == n_tot)
    )
    p_pool = c_tot * 1.0 / n_tot
    z = (p_a - p_b) / F.sqrt(
        p_pool * (1.0 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("c_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("c_b").cast("bigint").alias("conv_b"),
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.when(degenerate, 0.0).otherwise(F.round(z, 4)).alias("z_score"),
        F.when(degenerate, 0)
        .when(F.abs(z) >= 1.96, 1)
        .otherwise(0)
        .alias("significant"),
    )


@register(
    "stats_correlation_matrix",
    tags=("stats",),
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(corr(l_quantity, l_discount), 4) AS corr_qty_disc,
       round(corr(l_quantity, l_tax), 4) AS corr_qty_tax,
       round(corr(l_extendedprice, l_discount), 4) AS corr_price_disc,
       round(corr(l_extendedprice, l_tax), 4) AS corr_price_tax,
       round(corr(l_discount, l_tax), 4) AS corr_disc_tax
FROM lineitem
""",
)
def stats_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the four lineitem measures in
    ONE aggregate pass — the feature-redundancy triage a feature-store
    audit runs before training (|r|→1 pairs are candidates to drop).
    All six co-moment accumulators ride the same partial-aggregation
    tree, so the cost at 100 TB is one scan + one 1-row reduce, not six
    jobs. Rounded at 4dp (the `agg_regression_funcs` float posture:
    co-moment accumulation order differs across engines below that)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.corr("l_quantity", "l_discount"), 4).alias("corr_qty_disc"),
        F.round(F.corr("l_quantity", "l_tax"), 4).alias("corr_qty_tax"),
        F.round(F.corr("l_extendedprice", "l_discount"), 4).alias("corr_price_disc"),
        F.round(F.corr("l_extendedprice", "l_tax"), 4).alias("corr_price_tax"),
        F.round(F.corr("l_discount", "l_tax"), 4).alias("corr_disc_tax"),
    )


@register(
    "agg_weighted_percentile",
    tags=("agg", "stats"),
    oracle=f"""
WITH base AS (
  SELECT l_returnflag AS flag,
         {to_cents_sql("l_extendedprice")} AS cents,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
), agg AS (
  SELECT flag, cents, CAST(sum(wt) AS BIGINT) AS w FROM base GROUP BY 1, 2
), cum AS (
  SELECT flag, cents,
         CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
  FROM agg
)
SELECT flag AS l_returnflag,
       CAST(max(tw) AS BIGINT) AS total_weight,
       round(min(CASE WHEN cw * 100 >= 50 * tw THEN cents END) / 100.0, 2) AS p50_w,
       round(min(CASE WHEN cw * 100 >= 90 * tw THEN cents END) / 100.0, 2) AS p90_w,
       round(min(CASE WHEN cw * 100 >= 99 * tw THEN cents END) / 100.0, 2) AS p99_w
FROM cum
GROUP BY flag
""",
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted price percentiles per return flag — the
    generalization of `agg_weighted_median` to arbitrary p (each unit
    of quantity is one sample of its line's price; p50/p90/p99 are read
    off the cumulative weight curve). Integer discipline end-to-end:
    prices become cents, weights and cumulative sums stay BIGINT, and
    the percentile cut is the integer comparison cw·100 ≥ p·tw — no
    float thresholds to disagree across engines. Scale shape: the
    (flag, cents) pre-aggregate collapses duplicate price points before
    the window, so the per-flag ordered scan runs over distinct prices,
    not raw rows."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        to_cents("l_extendedprice").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    agg = base.groupBy("flag", "cents").agg(F.sum("wt").alias("w"))
    wcum = Window.partitionBy("flag").orderBy("cents")
    wall = Window.partitionBy("flag")
    cum = agg.select(
        "flag",
        "cents",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )

    def cut(p: int):
        return F.min(
            F.when(F.col("cw") * 100 >= p * F.col("tw"), F.col("cents"))
        )

    return cum.groupBy("flag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.round(cut(50) / 100.0, 2).alias("p50_w"),
        F.round(cut(90) / 100.0, 2).alias("p90_w"),
        F.round(cut(99) / 100.0, 2).alias("p99_w"),
    ).select(
        F.col("flag").alias("l_returnflag"), "total_weight", "p50_w", "p90_w", "p99_w"
    )


@register(
    "stats_srm_guardrail",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT DISTINCT user_id, {ARM_SQL} AS arm FROM events
), arms AS (
  SELECT arm, count(*) AS n FROM u GROUP BY arm
), w AS (
  SELECT {arm_pivot_sql(("n",), "CAST(coalesce({}, 0) AS BIGINT)")}
  FROM arms
)
SELECT n_a, n_b,
       CASE WHEN n_a + n_b = 0 THEN 0.0 ELSE
       round((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0)
             + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0), 6)
           END AS chi2_stat,
       CASE WHEN n_a + n_b = 0 THEN 0
            WHEN (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0)
               + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0) / ((n_a + n_b) / 2.0)
               > 3.841 THEN 1 ELSE 0 END AS srm_detected
FROM w
""",
)
def stats_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: before reading ANY experiment
    metric, check that the 50/50 arm split actually materialized —
    a chi-square goodness-of-fit of arm counts against equal expected
    counts (df=1; 3.841 = α 0.05 cut). SRM is the highest-yield A/B
    validity check in production (assignment bugs, bot filtering, and
    logging loss all surface here first — Fabijan et al., KDD'19).
    Distinct-user dedup then a two-row aggregate; the chi-square is a
    1-row projection of exact-integer-derived doubles, identical ops on
    both engines."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().withColumn("arm", arm())
    arms = u.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    # a missing arm is counted as n=0 (the worst possible mismatch), not
    # NULL-propagated — chi2 then equals n_total and SRM fires, instead of
    # the statistic silently going NULL (same latent class as the z-test)
    w = arms.agg(*arm_pivot(("n",), lambda c: F.coalesce(c, F.lit(0)).cast("bigint")))
    exp = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = (F.col("n_a") - exp) * (F.col("n_a") - exp) / exp + (
        F.col("n_b") - exp
    ) * (F.col("n_b") - exp) / exp
    empty = F.col("n_a") + F.col("n_b") == 0
    return w.select(
        "n_a",
        "n_b",
        F.when(empty, 0.0).otherwise(F.round(chi2, 6)).alias("chi2_stat"),
        F.when(empty, 0).when(chi2 > 3.841, 1).otherwise(0).alias("srm_detected"),
    )


@register(
    "stats_experiment_power",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id, {ARM_SQL} AS arm,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY arm
), w AS (
  SELECT {arm_pivot_sql(wrap="CAST({} AS BIGINT)")}
  FROM arms
)
SELECT n_a, n_b,
       CASE WHEN n_a IS NULL OR n_b IS NULL THEN 0.0 ELSE
       round((c_a + c_b) * 1.0 / (n_a + n_b), 6) END AS p_pool,
       CASE WHEN n_a IS NULL OR n_b IS NULL THEN 0.0 ELSE
       round(2.8 * sqrt(2.0 * ((c_a + c_b) * 1.0 / (n_a + n_b))
                        * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                        / least(n_a, n_b)), 6) END AS mde_abs,
       CASE WHEN n_a IS NULL OR n_b IS NULL THEN 0
            WHEN abs(c_a * 1.0 / n_a - c_b * 1.0 / n_b)
              >= 2.8 * sqrt(2.0 * ((c_a + c_b) * 1.0 / (n_a + n_b))
                            * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                            / least(n_a, n_b)) THEN 1 ELSE 0 END AS observed_ge_mde
FROM w
""",
)
def stats_experiment_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the conversion A/B at its ACTUAL
    sample size: MDE ≈ (z_{α/2}+z_β)·√(2p(1-p)/n) with 1.96+0.84 = 2.8
    (80% power, two-sided 5%) — the pre-readout sanity check that stops
    teams from 'significance fishing' an underpowered test
    (`stats_two_proportion_ztest` answers IS it significant; this
    answers COULD it have been). Same per-user hash agg as the z-test;
    the power math is a 1-row projection of exact-integer-derived
    doubles — identical expression tree on both engines."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv")).withColumn("arm", arm())
    arms = u.groupBy("arm").agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c"))
    w = arms.agg(*arm_pivot(wrap=lambda c: c.cast("bigint")))
    p_pool = (F.col("c_a") + F.col("c_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    mde = 2.8 * F.sqrt(
        2.0 * p_pool * (1.0 - p_pool) / F.least(F.col("n_a"), F.col("n_b"))
    )
    diff = F.abs(F.col("c_a") * 1.0 / F.col("n_a") - F.col("c_b") * 1.0 / F.col("n_b"))
    # missing arm (every user on one parity): MDE is undefined — emit a
    # defined degenerate row instead of NULL-propagating (z-test twin)
    missing = F.col("n_a").isNull() | F.col("n_b").isNull()
    return w.select(
        "n_a",
        "n_b",
        F.when(missing, 0.0).otherwise(F.round(p_pool, 6)).alias("p_pool"),
        F.when(missing, 0.0).otherwise(F.round(mde, 6)).alias("mde_abs"),
        F.when(missing, 0)
        .when(diff >= mde, 1)
        .otherwise(0)
        .alias("observed_ge_mde"),
    )


CUPED_SPLIT = "2024-01-16"  # pre-period: days before; post-period: from here on


@register(
    "stats_cuped_adjustment",
    tags=("stats", "experiment"),
    oracle=f"""
WITH per_user AS (
  SELECT user_id, {ARM_SQL} AS arm,
         sum(CASE WHEN ts <  CAST('{CUPED_SPLIT}' AS TIMESTAMP) THEN value ELSE 0 END) AS x,
         sum(CASE WHEN ts >= CAST('{CUPED_SPLIT}' AS TIMESTAMP) THEN value ELSE 0 END) AS y
  FROM events GROUP BY user_id
), theta AS (
  SELECT CASE WHEN var_samp(x) > 0 THEN covar_samp(x, y) / var_samp(x)
              ELSE 0.0 END AS th,
         avg(x) AS xbar
  FROM per_user
), adj AS (
  SELECT p.arm, p.y, p.y - t.th * (p.x - t.xbar) AS y_cuped
  FROM per_user p CROSS JOIN theta t
)
SELECT arm,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(y), 4) AS mean_y,
       round(avg(y_cuped), 4) AS mean_y_cuped,
       CASE WHEN var_samp(y) > 0
            THEN round(1.0 - var_samp(y_cuped) / var_samp(y), 4)
            ELSE 0.0 END AS var_reduction
FROM adj GROUP BY arm
""",
)
def stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): adjust each
    user's experiment-period metric by their PRE-period covariate,
    y' = y − θ(x − x̄) with θ = cov(x,y)/var(x) — the industry-standard
    trick that cuts A/B variance 30-50% without touching the estimand
    (E[y'] = E[y] because the x-term is mean-zero, which the oracle's
    per-arm means exhibit). Plan: one per-user hash agg builds (x, y),
    a 1-row θ/x̄ aggregate broadcasts back over the users, then a
    per-arm summary — two exchanges total, θ never leaves the plan.
    Float posture: covariance accumulation order differs across
    engines below ~1e-12 relative; all outputs round at 4dp
    (`agg_regression_funcs` discipline)."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)).alias("y"),
    ).withColumn("arm", arm())
    theta = per_user.agg(
        # a constant covariate has zero variance: CUPED degrades to the
        # unadjusted metric (theta 0) instead of an ANSI divide-by-zero
        F.when(
            F.var_samp("x") > 0, F.covar_samp("x", "y") / F.var_samp("x")
        ).otherwise(0.0).alias("th"),
        F.avg("x").alias("xbar"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "arm",
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))).alias("y_cuped"),
    )
    return adj.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.avg("y"), 4).alias("mean_y"),
        F.round(F.avg("y_cuped"), 4).alias("mean_y_cuped"),
        F.when(
            F.var_samp("y") > 0,
            F.round(1.0 - F.var_samp("y_cuped") / F.var_samp("y"), 4),
        ).otherwise(0.0).alias("var_reduction"),
    )


# SPRT design: H0 p=0.40 vs H1 p=0.50, alpha=beta=0.05 →
# accept-H1 bound ln((1-beta)/alpha) = ln(19), accept-H0 ln(beta/(1-alpha)) = ln(1/19)
SPRT_P0 = 0.40
SPRT_P1 = 0.50


@register(
    "stats_sprt_sequential",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), seq AS (
  SELECT user_id, conv,
         row_number() OVER (ORDER BY md5(CAST(user_id AS VARCHAR))) AS t,
         sum(conv) OVER (ORDER BY md5(CAST(user_id AS VARCHAR))) AS c
  FROM u
), llr AS (
  SELECT t, c,
         c * ln({SPRT_P1} / {SPRT_P0}) + (t - c) * ln((1.0 - {SPRT_P1}) / (1.0 - {SPRT_P0})) AS l
  FROM seq
)
SELECT CAST(t AS BIGINT) AS n_seen,
       CAST(c AS BIGINT) AS n_conv,
       round(l, 6) AS llr,
       CASE WHEN l >= ln(19.0) THEN 'accept_h1'
            WHEN l <= ln(1.0 / 19.0) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM llr
WHERE t % 10 = 0 OR l >= ln(19.0) OR l <= ln(1.0 / 19.0)
""",
)
def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test over the conversion
    stream (H0 p={SPRT_P0} vs H1 p={SPRT_P1}, α=β=0.05): users arrive
    in a deterministic md5-shuffled order, the Bernoulli log-likelihood
    ratio accumulates, and the test DECIDES the moment the LLR exits
    the ln(19) corridor — the always-valid early-stopping design that
    fixed-horizon tests (`stats_two_proportion_ztest`) can't offer
    without peeking penalties (Wald '45). The cumulative walk over
    user-cardinality rows runs as the two-phase banded rn+cumsum
    (`ranks.two_phase_ordered`, VERDICT r7 #4 — the md5 prefix is its
    own monotone bucket, 256-way parallel); emitted rows are every
    10th step plus every boundary crossing, so the output traces the
    decision path without materializing every step. The md5 arrival
    order makes the whole trajectory replayable on both engines."""
    import math

    from .ranks import two_phase_ordered

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv"))
    mo = u.withColumn("_ord", F.md5(F.col("user_id").cast("string")))
    seq = two_phase_ordered(
        mo, F.substring("_ord", 1, 2), ["_ord"], rn="t", cum_sums={"conv": "c"}
    ).select("conv", "t", "c")
    l = F.col("c") * math.log(SPRT_P1 / SPRT_P0) + (F.col("t") - F.col("c")) * math.log(
        (1.0 - SPRT_P1) / (1.0 - SPRT_P0)
    )
    hi, lo = math.log(19.0), math.log(1.0 / 19.0)
    llr = seq.select(
        F.col("t").cast("bigint").alias("n_seen"),
        F.col("c").cast("bigint").alias("n_conv"),
        F.round(l, 6).alias("llr"),
        F.when(l >= hi, "accept_h1")
        .when(l <= lo, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )
    return llr.filter(
        (F.col("n_seen") % 10 == 0)
        | (F.col("decision") != "continue")
    )


@register(
    "stats_mann_kendall",
    tags=("stats", "temporal"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         {to_cents_sql("sum(value)")} AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), pairs AS (
  SELECT CASE WHEN b.cents > a.cents THEN 1
              WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON b.day > a.day
), agg AS (
  SELECT CAST(sum(sgn) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_pairs,
         (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n
  FROM pairs
)
SELECT s, n_pairs, n,
       round((n * (n - 1.0) * (2.0 * n + 5.0)) / 18.0, 4) AS var_s,
       round(CASE WHEN s > 0 THEN (s - 1) / sqrt((n * (n - 1.0) * (2.0 * n + 5.0)) / 18.0)
                  WHEN s < 0 THEN (s + 1) / sqrt((n * (n - 1.0) * (2.0 * n + 5.0)) / 18.0)
                  ELSE 0.0 END, 4) AS z_mk
FROM agg
""",
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily purchase revenue: S = Σ
    sign(x_j − x_i) over all ordered day pairs, normal-approximated
    with the continuity correction — the NONPARAMETRIC companion to
    `stats_theil_sen_trend` (Theil-Sen estimates the slope; MK tests
    whether a monotone trend exists at all, immune to outliers and
    any monotone transform of the series — Mann '45, Kendall '75;
    no-ties variance since integer-cents daily sums collide with
    probability ~0, and the fixture has none). The pair join runs over
    DAY-cardinality rows — 30 days = 435 pairs — never events; signs
    are exact integer comparisons, and only the final z touches
    floats (identical expression tree both engines, 4dp)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(to_cents(F.sum("value")).alias("cents"))
    )
    a = daily.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    sgn = (
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, F.col("db") > F.col("da")).select(sgn.alias("sgn"))
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    agg = pairs.agg(
        F.sum("sgn").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    ).crossJoin(F.broadcast(n_days))
    n = F.col("n")
    var_s = (n * (n - 1.0) * (2.0 * n + 5.0)) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s))
        .otherwise(0.0)
    )
    return agg.select(
        "s",
        "n_pairs",
        "n",
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 4).alias("z_mk"),
    )


RFM_SPLIT_DATE = "1995-01-01"  # period 1 strictly before, period 2 from here


@register(
    "stats_rfm_migration",
    tags=("stats", "analytics"),
    oracle=f"""
WITH p1 AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS m
  FROM orders WHERE o_orderdate < CAST('{RFM_SPLIT_DATE}' AS DATE) GROUP BY 1
), p2 AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS m
  FROM orders WHERE o_orderdate >= CAST('{RFM_SPLIT_DATE}' AS DATE) GROUP BY 1
), s1 AS (
  SELECT o_custkey, ntile(5) OVER (ORDER BY m, o_custkey) AS q FROM p1
), s2 AS (
  SELECT o_custkey, ntile(5) OVER (ORDER BY m, o_custkey) AS q FROM p2
), joined AS (
  SELECT coalesce(s1.o_custkey, s2.o_custkey) AS cust,
         coalesce(s1.q, 0) AS q1, coalesce(s2.q, 0) AS q2
  FROM s1 FULL OUTER JOIN s2 ON s2.o_custkey = s1.o_custkey
)
SELECT CAST(q1 AS INT) AS m_before, CAST(q2 AS INT) AS m_after,
       CAST(count(*) AS BIGINT) AS n_custs
FROM joined GROUP BY q1, q2
""",
)
def stats_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-segment migration matrix: each customer's monetary quintile
    BEFORE vs AFTER the split date (0 = absent that period), counted per
    transition cell — the CRM view that turns static RFM
    (`stats_rfm_segmentation`) into a flow: mass above the diagonal is
    upgrades, below is decay, row 0 is acquisition and column 0 is
    churn. Two customer-cardinality aggregates + per-period quintile
    (two-phase banded row_number + exact ntile arithmetic, tie-broken
    by custkey — VERDICT r7 #4) + one full-outer join on customer; the
    matrix is ≤36 cells whatever the corpus size."""
    from .ranks import ntile_from_rn, two_phase_ordered

    o = load_table(spark, sf_dir, "orders")
    split = F.lit(RFM_SPLIT_DATE).cast("date")

    def scored(df, cond):
        per = (
            df.filter(cond)
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("m"))
        )
        n_tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
        return (
            two_phase_ordered(
                per, F.floor(F.col("m") / 10000), ["m", "o_custkey"], rn="_rn"
            )
            .crossJoin(F.broadcast(n_tot))
            .select(
                "o_custkey",
                ntile_from_rn(F.col("_rn"), F.col("_n"), 5).alias("q"),
            )
        )

    s1 = scored(o, F.col("o_orderdate") < split).select(
        F.col("o_custkey").alias("c1"), F.col("q").alias("q1")
    )
    s2 = scored(o, F.col("o_orderdate") >= split).select(
        F.col("o_custkey").alias("c2"), F.col("q").alias("q2")
    )
    joined = s1.join(s2, s1.c1 == s2.c2, "full_outer").select(
        F.coalesce(F.col("q1"), F.lit(0)).cast("int").alias("m_before"),
        F.coalesce(F.col("q2"), F.lit(0)).cast("int").alias("m_after"),
    )
    return joined.groupBy("m_before", "m_after").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs")
    )


def _repurchase_subjects(ev: DataFrame, **carry: Column) -> DataFrame:
    """One subject per purchase, ending at the user's next purchase
    (t days, censored 0) or, for the last one, at the horizon = the
    latest purchase day (censored 1); ``carry`` adds per-purchase
    columns by name. Shared by the survival queries; its oracle twin is
    :func:`_repurchase_subjects_sql`."""
    from pyspark.sql import Window

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        *(c.alias(n) for n, c in carry.items()),
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = purchases.withColumn("nxt", F.lead("day").over(wseq))
    horizon = purchases.agg(F.max("day").alias("h"))
    return seq.crossJoin(F.broadcast(horizon)).select(
        *carry,
        F.when(F.col("nxt").isNotNull(), F.datediff("nxt", "day") + 1)
        .otherwise(F.datediff("h", "day") + 1)
        .alias("t"),
        F.when(F.col("nxt").isNotNull(), 0).otherwise(1).alias("censored"),
    )


def _repurchase_subjects_sql(**carry: str) -> str:
    """The CTEs purchases, seq, horizon and subjects (t, censored) of
    :func:`_repurchase_subjects`; ``carry`` maps a name to its SQL."""
    sel = "".join(f"{e} AS {n}, " for n, e in carry.items())
    keep = "".join(f"{n}, " for n in carry)
    return f"""purchases AS (
  SELECT user_id, {sel}CAST(ts AS DATE) AS day, ts, event_id
  FROM events WHERE event_type = 'purchase'
), seq AS (
  SELECT user_id, {keep}day,
         lead(day) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM purchases
), horizon AS (
  SELECT max(day) AS h FROM purchases
), subjects AS (
  SELECT {keep}CASE WHEN nxt IS NOT NULL THEN date_diff('day', day, nxt) + 1
              ELSE date_diff('day', day, (SELECT h FROM horizon)) + 1 END AS t,
         CASE WHEN nxt IS NOT NULL THEN 0 ELSE 1 END AS censored
  FROM seq
)"""


@register(
    "stats_kaplan_meier",
    tags=("stats", "temporal"),
    oracle=f"""
WITH {_repurchase_subjects_sql()}, at_t AS (
  SELECT t,
         CAST(count(*) AS BIGINT) AS n_ending,
         CAST(sum(1 - censored) AS BIGINT) AS d
  FROM subjects GROUP BY t
), risk AS (
  SELECT t, d, n_ending,
         CAST((SELECT count(*) FROM subjects) AS BIGINT)
           - CAST(coalesce(sum(n_ending) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM at_t
)
SELECT CAST(t AS BIGINT) AS t_days,
       n_risk,
       d AS n_deaths,
       CASE WHEN min(1.0 - d * 1.0 / n_risk)
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 0
            THEN 0.0
            ELSE round(exp(sum(ln(CASE WHEN d < n_risk THEN 1.0 - d * 1.0 / n_risk ELSE 1.0 END))
                           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) END AS survival
FROM risk
WHERE d > 0
""",
)
def stats_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival on purchase-to-repurchase time WITH
    right-censoring: each purchase is a subject whose event is the
    user's NEXT purchase; a user's final purchase has no successor
    inside the observation window, so it is censored at the horizon —
    and ignoring that is the classic repurchase-curve bias (censored
    subjects leave the risk set without counting as deaths; Kaplan &
    Meier '58; subjects are gaps, not users, because the synthetic
    users never churn — every lifetime reaches the horizon). S(t) =
    Π (1 − dᵢ/nᵢ) over event times, computed as exp(Σ ln(·)) with the
    SAME formula text on both engines (neither has a product aggregate
    the other matches; the exp∘sum∘ln spelling gives both the identical
    float path, 6dp). Risk sets come from one cumulative window over
    DURATION-cardinality rows — days, not events."""
    from pyspark.sql import Window

    subjects = _repurchase_subjects(load_table(spark, sf_dir, "events"))
    at_t = subjects.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(1 - F.col("censored")).cast("bigint").alias("d"),
    )
    total = subjects.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)  # frame: bounded (day-duration grain)
    risk = (
        at_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("_n") - F.coalesce(F.sum("n_ending").over(wcum), F.lit(0)),
        )
    )
    wsurv = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)  # frame: bounded (day-duration grain)
    factor = 1.0 - F.col("d") * 1.0 / F.col("n_risk")
    # guard the S(t)=0 tail (d == n_risk): ln(0) is an error in DuckDB
    # and -inf in Spark — both sides special-case it to an exact 0.0
    safe_ln = F.log(F.when(F.col("d") < F.col("n_risk"), factor).otherwise(F.lit(1.0)))
    return (
        risk.withColumn(
            "survival",
            F.when(F.min(factor).over(wsurv) == 0, F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum(safe_ln).over(wsurv)), 6)
            ),
        )
        .filter(F.col("d") > 0)
        .select(
            F.col("t").cast("bigint").alias("t_days"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").alias("n_deaths"),
            "survival",
        )
    )


@register(
    "stats_cohens_kappa",
    tags=("stats", "eval"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS rater_a,
         CASE WHEN len({WORDS_SQL}) > 90
              THEN 1 ELSE 0 END AS rater_b
  FROM documents
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE rater_a = 1 AND rater_b = 1) AS BIGINT) AS n11,
         CAST(count(*) FILTER (WHERE rater_a = 1 AND rater_b = 0) AS BIGINT) AS n10,
         CAST(count(*) FILTER (WHERE rater_a = 0 AND rater_b = 1) AS BIGINT) AS n01,
         CAST(count(*) FILTER (WHERE rater_a = 0 AND rater_b = 0) AS BIGINT) AS n00
  FROM scored
)
SELECT n, n11, n10, n01, n00,
       round((n11 + n00) * 1.0 / n, 6) AS p_observed,
       round(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
             + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n), 6) AS p_expected,
       round(((n11 + n00) * 1.0 / n
              - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
             / (1.0 - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                       + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n))), 6) AS kappa
FROM cells
""",
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document 'annotators' — a char-length
    rule and a token-count rule labeling quality — chance-corrected
    agreement, the metric every labeling/eval pipeline reports instead
    of raw accuracy (two raters who both say 'good' 90% of the time
    agree 82% by pure chance; kappa subtracts that floor — Cohen '60).
    One scan builds the 2×2 contingency as conditional counts, then
    kappa is a 1-row projection of exact-integer ratios — identical
    expression tree both engines, 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    rater_a = F.when(F.col("n_chars") > 500, 1).otherwise(0)
    rater_b = F.when(F.size(words("text")) > 90, 1).otherwise(0)
    scored = docs.select(rater_a.alias("a"), rater_b.alias("b"))
    cells = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 1), 1)).cast("bigint").alias("n11"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 0), 1)).cast("bigint").alias("n10"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 1), 1)).cast("bigint").alias("n01"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 0), 1)).cast("bigint").alias("n00"),
    )
    n = F.col("n")
    po = (F.col("n11") + F.col("n00")) * 1.0 / n
    pe = ((F.col("n11") + F.col("n10")) * 1.0 / n) * (
        (F.col("n11") + F.col("n01")) * 1.0 / n
    ) + ((F.col("n01") + F.col("n00")) * 1.0 / n) * (
        (F.col("n10") + F.col("n00")) * 1.0 / n
    )
    return cells.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


@register(
    "stats_wilson_interval",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), c AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS k FROM u
)
SELECT n, k,
       round(k * 1.0 / n, 6) AS p_hat,
       round((k * 1.0 / n + 1.9208 / n
              - 1.96 * sqrt((k * 1.0 / n) * (1.0 - k * 1.0 / n) / n + 0.9604 / (n * n)))
             / (1.0 + 3.8416 / n), 6) AS wilson_lo,
       round((k * 1.0 / n + 1.9208 / n
              + 1.96 * sqrt((k * 1.0 / n) * (1.0 - k * 1.0 / n) / n + 0.9604 / (n * n)))
             / (1.0 + 3.8416 / n), 6) AS wilson_hi
FROM c
""",
)
def stats_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for the conversion proportion (z=1.96;
    z²=3.8416, z²/2=1.9208, z²/4=0.9604 written as literals so both
    engines evaluate the identical constants): the CI that stays inside
    [0,1] and behaves at small n / extreme p, where the naive Wald
    interval collapses or escapes the unit range — the correct
    error-bar for every conversion metric this suite reports (Wilson
    1927; Brown-Cai-DasGupta '01 recommend it outright). One per-user
    dedup agg then a 1-row closed-form projection of exact-integer
    ratios — same determinism class as the z-test."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv"))
    c = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    n, k = F.col("n"), F.col("k")
    p = k * 1.0 / n
    half = 1.96 * F.sqrt(p * (1.0 - p) / n + 0.9604 / (n * n))
    denom = 1.0 + 3.8416 / n
    return c.select(
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round((p + 1.9208 / n - half) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.9208 / n + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "stats_anova_oneway",
    tags=("stats", "experiment"),
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority AS grp,
         count(*) AS n_g,
         sum(CAST({to_cents_sql("o_totalprice")} AS HUGEINT)) AS s_g,
         sum(CAST({to_cents_sql("o_totalprice")} AS HUGEINT)
             * {to_cents_sql("o_totalprice")}) AS ss_g
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS DOUBLE) AS s,
         CAST(sum(ss_g) AS DOUBLE) AS ss,
         sum((CAST(s_g AS DOUBLE) / n_g) * (CAST(s_g AS DOUBLE) / n_g) * n_g)
           AS sum_n_meansq
  FROM g
)
SELECT k AS n_groups,
       n AS n_rows,
       CASE WHEN ss - sum_n_meansq > 0 THEN
       round((sum_n_meansq - s * s / n) / (k - 1)
             / ((ss - sum_n_meansq) / (n - k)), 4) ELSE 0.0 END AS f_stat,
       CASE WHEN ss - s * s / n > 0 THEN
       round((sum_n_meansq - s * s / n) / (ss - s * s / n), 6) ELSE 0.0 END
         AS eta_sq,
       CASE WHEN ss - sum_n_meansq > 0
             AND (sum_n_meansq - s * s / n) / (k - 1)
               / ((ss - sum_n_meansq) / (n - k)) > 2.372 THEN 1 ELSE 0 END
         AS significant
FROM tot
""",
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five order-priority groups on order
    value: F = MS_between / MS_within plus eta-squared effect size —
    the k-group generalization of `stats_welch_ttest` (does ANY group
    differ before pairwise digging; the pairwise follow-up with FDR
    control is `stats_benjamini_hochberg`). Exactness discipline:
    prices become integer cents, per-group sum/sum-of-squares
    accumulate as DECIMAL (Spark) / HUGEINT (DuckDB) — exact integers
    on both engines — so the F projection is one deterministic double
    expression, not an order-sensitive float reduction. Significance
    uses the fixed F(4, inf) 5% critical value 2.372 (df2 ~ 15k).
    Scale: one scan -> 5-row partial agg -> 1-row projection; the
    partial aggregation tree does all the work at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    cents = to_cents("o_totalprice")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(cents.cast("decimal(18,0)")).alias("s_g"),
        F.sum(cents.cast("decimal(18,0)") * cents).alias("ss_g"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        F.sum("ss_g").cast("double").alias("ss"),
        F.sum(
            (F.col("s_g").cast("double") / F.col("n_g"))
            * (F.col("s_g").cast("double") / F.col("n_g"))
            * F.col("n_g")
        ).alias("sum_n_meansq"),
    )
    ssb = F.col("sum_n_meansq") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sum_n_meansq")
    sst = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    # ssw = 0 (all values identical within every group) and sst = 0 are
    # the ANSI divide-by-zero class: emit the defined degenerate 0.0
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        F.when(ssw > 0, F.round(f_stat, 4)).otherwise(0.0).alias("f_stat"),
        F.when(sst > 0, F.round(ssb / sst, 6)).otherwise(0.0).alias("eta_sq"),
        F.when((ssw > 0) & (f_stat > 2.372), 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_benjamini_hochberg",
    tags=("stats", "experiment"),
    oracle=f"""
WITH nat AS (
  SELECT n.n_name AS nation,
         count(*) AS n_orders,
         sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n_urgent
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
), g_tot AS (
  SELECT CAST(sum(n_orders) AS BIGINT) AS n_tot,
         CAST(sum(n_urgent) AS BIGINT) AS k_tot
  FROM nat
), z AS (
  SELECT nation, n_orders, n_urgent,
         CASE WHEN k_tot = 0 OR k_tot = n_tot THEN 0.0 ELSE
         (n_urgent * 1.0 / n_orders - k_tot * 1.0 / n_tot)
           / sqrt((k_tot * 1.0 / n_tot) * (1.0 - k_tot * 1.0 / n_tot) / n_orders)
           END AS zv
  FROM nat, g_tot
), p AS (
  SELECT nation, n_orders, n_urgent, zv,
         {normal_tail_sql("zv", two_sided=True)} AS pv
  FROM z
), ranked AS (
  SELECT nation, n_orders, n_urgent, zv, pv,
         row_number() OVER (ORDER BY pv, nation) AS bh_rank,
         count(*) OVER () AS m
  FROM p
), cut AS (
  SELECT *,
         max(CASE WHEN pv <= bh_rank * 0.05 / m THEN bh_rank ELSE 0 END)
           OVER () AS k_star
  FROM ranked
)
SELECT nation,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_urgent AS BIGINT) AS n_urgent,
       round(zv, 4) AS z_score,
       round(pv, 6) AS p_value,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       CASE WHEN bh_rank <= k_star THEN 1 ELSE 0 END AS rejected
FROM cut
""",
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over 25 parallel hypotheses (is
    each nation's URGENT-order share off the global share?) — THE
    multiple-testing correction for metric readouts fanned across
    segments (BH '95): sort p ascending, reject ranks <= k* where
    k* = max{i : p_(i) <= i*alpha/m}. Two-sided p comes from the
    Abramowitz-Stegun 26.2.17 polynomial normal CDF — plain
    exp/sqrt/pow arithmetic spelled identically on both engines
    (no erf dependency). All counts are exact integers; the z and p
    projections are deterministic doubles. Scale: the heavy work is the
    orders-customer join and 25-group agg; the BH window runs over m=25
    rows (one per hypothesis — segment cardinality, not data size), so
    the unpartitioned rank/max windows are metadata-sized by
    construction."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("n_urgent"),
        )
    )
    glob = nat.agg(
        F.sum("n_orders").cast("bigint").alias("n_tot"),
        F.sum("n_urgent").cast("bigint").alias("k_tot"),
    )
    # k_tot in {0, n_tot} = zero pooled variance (no or all URGENT):
    # z is undefined; emit 0.0 -> p = 1.0, BH rejects nothing (ANSI class)
    z = nat.crossJoin(F.broadcast(glob)).withColumn(
        "zv",
        F.when(
            (F.col("k_tot") == 0) | (F.col("k_tot") == F.col("n_tot")), 0.0
        ).otherwise(
            (F.col("n_urgent") * 1.0 / F.col("n_orders")
             - F.col("k_tot") * 1.0 / F.col("n_tot"))
            / F.sqrt(
                (F.col("k_tot") * 1.0 / F.col("n_tot"))
                * (1.0 - F.col("k_tot") * 1.0 / F.col("n_tot"))
                / F.col("n_orders")
            )
        ),
    )
    p = z.withColumn("pv", normal_tail(F.col("zv"), two_sided=True))
    from pyspark.sql import Window

    wr = Window.orderBy("pv", "nation")  # frame: bounded (nation-grain, 25 rows)
    wall = Window.partitionBy()
    ranked = p.withColumn("bh_rank", F.row_number().over(wr)).withColumn(
        "m", F.count(F.lit(1)).over(wall)
    )
    cut = ranked.withColumn(
        "k_star",
        F.max(
            F.when(F.col("pv") <= F.col("bh_rank") * 0.05 / F.col("m"),
                   F.col("bh_rank")).otherwise(0)
        ).over(wall),
    )
    return cut.select(
        "nation",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("n_urgent").cast("bigint").alias("n_urgent"),
        F.round("zv", 4).alias("z_score"),
        F.round("pv", 6).alias("p_value"),
        F.col("bh_rank").cast("bigint").alias("bh_rank"),
        F.when(F.col("bh_rank") <= F.col("k_star"), 1).otherwise(0).alias("rejected"),
    )


@register(
    "stats_permutation_test",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), obs AS (
  SELECT sum(CASE WHEN {ARM_SQL} = 1 THEN conv ELSE 0 END) * 1.0
           / sum(CASE WHEN {ARM_SQL} = 1 THEN 1 ELSE 0 END)
         - sum(CASE WHEN {ARM_SQL} = 0 THEN conv ELSE 0 END) * 1.0
           / sum(CASE WHEN {ARM_SQL} = 0 THEN 1 ELSE 0 END) AS diff_obs,
         CAST(count(*) AS BIGINT) AS n_users
  FROM u
), reps AS (
  SELECT t.b,
         ((u.user_id * 2654435761 + t.b * 40503) % 4294967296) // 65536 % 2 AS arm,
         u.conv
  FROM u CROSS JOIN generate_series(1, 199) AS t(b)
), per_b AS (
  SELECT b,
         count(*) AS n,
         sum(arm) AS n1,
         sum(arm * conv) AS c1,
         sum(conv) AS c
  FROM reps GROUP BY b
), diffs AS (
  SELECT b,
         CASE WHEN n1 = 0 OR n1 = n THEN 0.0
              ELSE c1 * 1.0 / n1 - (c - c1) * 1.0 / (n - n1) END AS diff_b
  FROM per_b
)
SELECT o.n_users,
       round(o.diff_obs, 6) AS diff_obs,
       CAST(sum(CASE WHEN abs(d.diff_b) >= abs(o.diff_obs) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
       round((1.0 + sum(CASE WHEN abs(d.diff_b) >= abs(o.diff_obs) THEN 1 ELSE 0 END))
             / 200.0, 6) AS p_value
FROM diffs d, obs o
GROUP BY o.n_users, o.diff_obs
""",
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the conversion A/B diff: 199 deterministic
    pseudo-permutations reassign each user's arm via a multiplicative
    integer hash of (user_id, b) — pure BIGINT arithmetic spelled
    identically on both engines, no engine RNG — and the p-value is the
    add-one-smoothed fraction of permuted |diffs| at least as extreme
    as observed (Monte-Carlo permutation inference; B+1 denominator per
    Phipson-Smyth '10). This is the assumption-free twin of
    `stats_two_proportion_ztest` (no normality, exact under the null)
    and the resampling pattern `stats_bootstrap_poisson` uses, with
    replicate-id replication instead of Poisson weights. Scale: users
    replicate x199 into one hash agg keyed by replicate id — map-side
    combine collapses each partition to <=199 partials, so the shuffle
    carries B rows per partition regardless of corpus size; B is the
    cost knob. Degenerate replicates (all users one arm) emit diff 0.0
    — at real cardinalities the hash makes that a non-event, but the
    guard keeps ANSI division defined (missing-arm class, ADVICE r4)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv"))
    obs = u.agg(
        (
            F.sum(F.when(arm() == 1, F.col("conv")).otherwise(0)) * 1.0
            / F.sum(F.when(arm() == 1, 1).otherwise(0))
            - F.sum(F.when(arm() == 0, F.col("conv")).otherwise(0)) * 1.0
            / F.sum(F.when(arm() == 0, 1).otherwise(0))
        ).alias("diff_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    reps = u.withColumn(
        "b", F.explode(F.sequence(F.lit(1), F.lit(199)))
    ).select(
        "b",
        (
            (
                ((F.col("user_id") * F.lit(2654435761) + F.col("b") * 40503)
                 % F.lit(4294967296))
                .cast("bigint")
                / F.lit(65536)
            ).cast("bigint")
            % 2
        ).alias("arm"),
        "conv",
    )
    per_b = reps.groupBy("b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("arm").alias("n1"),
        F.sum(F.col("arm") * F.col("conv")).alias("c1"),
        F.sum("conv").alias("c"),
    )
    diffs = per_b.select(
        "b",
        F.when((F.col("n1") == 0) | (F.col("n1") == F.col("n")), 0.0)
        .otherwise(
            F.col("c1") * 1.0 / F.col("n1")
            - (F.col("c") - F.col("c1")) * 1.0 / (F.col("n") - F.col("n1"))
        )
        .alias("diff_b"),
    )
    extreme = F.sum(
        F.when(F.abs(F.col("diff_b")) >= F.abs(F.col("diff_obs")), 1).otherwise(0)
    )
    return (
        diffs.crossJoin(F.broadcast(obs))
        .groupBy("n_users", "diff_obs")
        .agg(
            extreme.cast("bigint").alias("n_extreme"),
            F.round((1.0 + extreme) / 200.0, 6).alias("p_value"),
        )
        .select(
            "n_users",
            F.round("diff_obs", 6).alias("diff_obs"),
            "n_extreme",
            "p_value",
        )
    )


@register(
    "stats_jensen_shannon",
    tags=("stats", "text", "pipeline"),
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({SPLIT_LOWER_SQL}) AS w
  FROM documents
), s_cnt AS (
  SELECT source, w, count(*) AS c_s FROM tok GROUP BY 1, 2
), s_tot AS (
  SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s FROM s_cnt GROUP BY 1
), g_cnt AS (
  SELECT w, CAST(sum(c_s) AS BIGINT) AS c_g FROM s_cnt GROUP BY 1
), g_tot AS (
  SELECT CAST(sum(c_g) AS BIGINT) AS t_g FROM g_cnt
), grid AS (
  SELECT st.source, st.t_s, g.w, g.c_g, gt.t_g,
         coalesce(sc.c_s, 0) AS c_s
  FROM s_tot st
  CROSS JOIN g_cnt g
  CROSS JOIN g_tot gt
  LEFT JOIN s_cnt sc ON sc.source = st.source AND sc.w = g.w
), terms AS (
  SELECT source, t_s,
         c_s * 1.0 / t_s AS p,
         CASE WHEN t_g > t_s THEN (c_g - c_s) * 1.0 / (t_g - t_s)
              ELSE 0.0 END AS q
  FROM grid
)
SELECT source,
       t_s AS n_tokens,
       round(sum(CASE WHEN p > 0 THEN 0.5 * p * log2(p / ((p + q) / 2.0)) ELSE 0.0 END)
             + sum(CASE WHEN q > 0 THEN 0.5 * q * log2(q / ((p + q) / 2.0)) ELSE 0.0 END),
             6) AS jsd_bits
FROM terms
GROUP BY source, t_s
""",
)
def stats_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between each source's token
    distribution and the REST of the corpus — the symmetric, bounded
    [0,1] drift measure a data-mixing pipeline uses to rank how
    distinctive each domain is before setting mixture weights
    (`stats_psi_drift` is the binned twin for scalar metrics; JSD works
    on the full discrete vocabulary). P = source unigram dist, Q =
    rest-of-corpus dist (global minus source — no double counting),
    JSD = 0.5*KL(P||M) + 0.5*KL(Q||M), zero-count terms contribute 0.
    Shape: one tokenize scan -> (source, word) counts -> the
    sources x vocab grid via cross join with the global vocab (each
    side carries ONLY counts — ids not text — so the grid is
    |sources| * |vocab| counter rows, the exact materialization a
    language-ID drift monitor keeps anyway); left join fills absent
    words with 0. The double log-sum is well-conditioned (terms
    <= 0.5*p, vocab-sized count), so 6dp rounding absorbs engine
    summation-order noise."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(split_lower("text")).alias("w")
    )
    s_cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_s"))
    s_tot = s_cnt.groupBy("source").agg(F.sum("c_s").cast("bigint").alias("t_s"))
    g_cnt = s_cnt.groupBy("w").agg(F.sum("c_s").cast("bigint").alias("c_g"))
    g_tot = g_cnt.agg(F.sum("c_g").cast("bigint").alias("t_g"))
    grid = (
        s_tot.crossJoin(g_cnt)
        .crossJoin(F.broadcast(g_tot))
        .join(s_cnt, ["source", "w"], "left")
        .withColumn("c_s", F.coalesce(F.col("c_s"), F.lit(0)))
    )
    p = F.col("c_s") * 1.0 / F.col("t_s")
    # a single-source corpus makes 'rest' empty (t_g == t_s): q is the
    # empty distribution -> all-zero terms, JSD degenerates to 0 (ANSI class)
    q = F.when(
        F.col("t_g") > F.col("t_s"),
        (F.col("c_g") - F.col("c_s")) * 1.0 / (F.col("t_g") - F.col("t_s")),
    ).otherwise(0.0)
    m = (p + q) / 2.0
    terms = grid.select(
        "source",
        "t_s",
        F.when(p > 0, 0.5 * p * F.log2(p / m)).otherwise(0.0).alias("term_p"),
        F.when(q > 0, 0.5 * q * F.log2(q / m)).otherwise(0.0).alias("term_q"),
    )
    return (
        terms.groupBy("source", F.col("t_s").alias("n_tokens"))
        .agg(F.round(F.sum("term_p") + F.sum("term_q"), 6).alias("jsd_bits"))
    )


@register(
    "stats_ols_two_feature",
    tags=("stats", "ml"),
    oracle=f"""
WITH li AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         {to_cents_sql("l_extendedprice")} AS y
  FROM lineitem
), m AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
         CAST(sum(CAST(y  AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
         CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
         CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
         CAST(sum(CAST(x1 AS HUGEINT) * y)  AS DOUBLE) AS s1y,
         CAST(sum(CAST(x2 AS HUGEINT) * y)  AS DOUBLE) AS s2y,
         CAST(sum(CAST(y  AS HUGEINT) * y)  AS DOUBLE) AS syy
  FROM li GROUP BY flag
), c AS (
  SELECT flag, n,
         s11 - s1 * s1 / n AS c11,
         s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12,
         s1y - s1 * sy / n AS c1y,
         s2y - s2 * sy / n AS c2y,
         syy - sy * sy / n AS cyy,
         s1 / n AS m1, s2 / n AS m2, sy / n AS my
  FROM m
), b AS (
  SELECT flag, n, c1y, c2y, cyy, m1, m2, my,
         c11 * c22 - c12 * c12 AS det,
         (c22 * c1y - c12 * c2y) AS num1,
         (c11 * c2y - c12 * c1y) AS num2
  FROM c
)
SELECT flag, n,
       CASE WHEN det > 0 THEN round(num1 / det, 4) ELSE 0.0 END AS beta_qty,
       CASE WHEN det > 0 THEN round(num2 / det, 4) ELSE 0.0 END AS beta_disc,
       CASE WHEN det > 0
            THEN round(my - (num1 / det) * m1 - (num2 / det) * m2, 2)
            ELSE 0.0 END AS intercept,
       CASE WHEN det > 0 AND cyy > 0
            THEN round(((num1 / det) * c1y + (num2 / det) * c2y) / cyy, 6)
            ELSE 0.0 END AS r2
FROM b
""",
)
def stats_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature closed-form OLS per return flag: price-cents ~
    quantity + discount via the 2x2 normal equations (matrix inverse
    spelled out: det = c11*c22 - c12^2) — the multi-feature step past
    `udaf_grouped_regression`'s single-x fit, and the biggest OLS that
    stays a pure aggregate projection (3+ features want the Gram-matrix
    reduction in [[similarity_gram_matrix_arrow]]). Exactness: all ten
    co-moment sums accumulate over INTEGER cents/quantities as
    HUGEINT (DuckDB) / DECIMAL (Spark), so the betas are one
    deterministic double projection per group — no float-reduction
    order anywhere. Degenerate det<=0 (collinear features) and cyy=0
    guards emit 0.0 (ANSI class). One scan, 3-row agg."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("bigint")
    x2 = F.round(F.col("l_discount") * 100).cast("bigint")
    y = to_cents("l_extendedprice")
    dec = "decimal(28,0)"
    m = li.select(
        F.col("l_returnflag").alias("flag"),
        x1.alias("x1"), x2.alias("x2"), y.alias("y"),
    ).groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x1").cast(dec)).cast("double").alias("s1"),
        F.sum(F.col("x2").cast(dec)).cast("double").alias("s2"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum(F.col("x1").cast(dec) * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2").cast(dec) * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1").cast(dec) * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x1").cast(dec) * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2").cast(dec) * F.col("y")).cast("double").alias("s2y"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    num1 = c22 * c1y - c12 * c2y
    num2 = c11 * c2y - c12 * c1y
    m1, m2, my = F.col("s1") / n, F.col("s2") / n, F.col("sy") / n
    return m.select(
        "flag",
        "n",
        F.when(det > 0, F.round(num1 / det, 4)).otherwise(0.0).alias("beta_qty"),
        F.when(det > 0, F.round(num2 / det, 4)).otherwise(0.0).alias("beta_disc"),
        F.when(det > 0, F.round(my - (num1 / det) * m1 - (num2 / det) * m2, 2))
        .otherwise(0.0)
        .alias("intercept"),
        F.when((det > 0) & (cyy > 0),
               F.round(((num1 / det) * c1y + (num2 / det) * c2y) / cyy, 6))
        .otherwise(0.0)
        .alias("r2"),
    )


@register(
    "stats_retention_decay_fit",
    tags=("stats", "events", "analytics"),
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), first_day AS (
  SELECT user_id, min(day) AS d0 FROM act GROUP BY user_id
), horizon AS (
  SELECT max(day) AS dmax FROM act
), offsets AS (
  SELECT a.user_id, datediff('day', f.d0, a.day) AS k
  FROM act a JOIN first_day f ON a.user_id = f.user_id
), denom AS (
  SELECT t.k,
         (SELECT count(*) FROM first_day f, horizon h
          WHERE datediff('day', f.d0, h.dmax) >= t.k) AS n_eligible
  FROM (SELECT DISTINCT k FROM offsets) t
), curve AS (
  SELECT o.k,
         CAST(count(DISTINCT o.user_id) AS BIGINT) AS n_active,
         CAST(d.n_eligible AS BIGINT) AS n_eligible,
         count(DISTINCT o.user_id) * 1.0 / d.n_eligible AS retention
  FROM offsets o JOIN denom d ON o.k = d.k
  GROUP BY o.k, d.n_eligible
), fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         regr_slope(ln(retention), k) AS slope,
         regr_intercept(ln(retention), k) AS intercept,
         regr_r2(ln(retention), k) AS r2
  FROM curve WHERE k >= 1 AND retention > 0
)
SELECT n_points,
       round(slope, 4) AS decay_slope,
       round(intercept, 4) AS log_intercept,
       round(r2, 4) AS fit_r2,
       CASE WHEN slope < 0 THEN round(-ln(2) / slope, 4) ELSE 0.0 END
         AS half_life_days
FROM fit
""",
)
def stats_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay fit of the DAILY retention curve: pooled
    day-k retention (distinct users active k days after their first
    day, over users whose observation window even REACHES k —
    right-censoring handled via the eligibility denominator, the
    mistake naive retention queries make), then ln(retention) ~ k by
    least squares; -ln2/slope is the retention half-life in days.
    `events_retention_cohorts` reports the raw curve per cohort; this
    collapses it to the two numbers growth teams actually track
    (decay rate, half-life). Heavy work is the distinct (user, day)
    dedup and first-day agg — both user-keyed hash aggs; the curve is
    ~30 rows (offset cardinality = observation days, not data size),
    so the regr_* fit runs on a metadata-sized frame. regr_slope /
    regr_intercept / regr_r2 exist natively on both engines; inputs
    are exact int ratios, 4dp absorbs accumulation order."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    first_day = act.groupBy("user_id").agg(F.min("day").alias("d0"))
    dmax = first_day.crossJoin(
        F.broadcast(act.agg(F.max("day").alias("dmax")))
    )
    offsets = (
        act.join(first_day, "user_id")
        .select("user_id", F.datediff("day", "d0").alias("k"))
    )
    denom = (
        dmax.select("user_id", F.datediff("dmax", "d0").alias("window_days"))
        .crossJoin(offsets.select("k").distinct())
        .filter(F.col("window_days") >= F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_eligible"))
    )
    curve = (
        offsets.groupBy("k")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(denom, "k")
        .select(
            "k",
            (F.col("n_active") * 1.0 / F.col("n_eligible")).alias("retention"),
        )
    )
    fit = curve.filter((F.col("k") >= 1) & (F.col("retention") > 0)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.regr_slope(F.log(F.col("retention")), F.col("k")).alias("slope"),
        F.regr_intercept(F.log(F.col("retention")), F.col("k")).alias("intercept"),
        F.regr_r2(F.log(F.col("retention")), F.col("k")).alias("r2"),
    )
    return fit.select(
        "n_points",
        F.round("slope", 4).alias("decay_slope"),
        F.round("intercept", 4).alias("log_intercept"),
        F.round("r2", 4).alias("fit_r2"),
        F.when(F.col("slope") < 0, F.round(-F.log(F.lit(2.0)) / F.col("slope"), 4))
        .otherwise(0.0)
        .alias("half_life_days"),
    )


@register(
    "stats_extreme_value_gumbel",
    tags=("stats", "analytics"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         max({to_cents_sql("value")}) AS mx
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(mx AS HUGEINT)) AS DOUBLE) AS s,
         CAST(sum(CAST(mx AS HUGEINT) * mx) AS DOUBLE) AS ss,
         CAST(max(mx) AS DOUBLE) AS hist_max
  FROM daily
), p AS (
  SELECT n, hist_max,
         s / n AS mean,
         CASE WHEN n > 1 THEN sqrt((ss - s * s / n) / (n - 1)) ELSE 0.0 END AS sd
  FROM m
), g AS (
  SELECT n, hist_max, mean, sd,
         sd * sqrt(6.0) / pi() AS beta,
         mean - 0.5772156649015329 * (sd * sqrt(6.0) / pi()) AS mu
  FROM p
)
SELECT n AS n_days,
       round(mu, 2) AS mu_cents,
       round(beta, 2) AS beta_cents,
       CASE WHEN beta > 0
            THEN round(mu - beta * ln(-ln(1.0 - 1.0 / 20.0)), 2)
            ELSE round(mu, 2) END AS return_level_20d,
       CASE WHEN beta > 0
            THEN round(1.0 - exp(-exp(-(hist_max - mu) / beta)), 6)
            ELSE 0.0 END AS p_exceed_hist_max
FROM g
""",
)
def stats_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) fit on daily maxima by method of moments —
    beta = s*sqrt(6)/pi, mu = mean - gamma*beta (Fisher-Tippett '28;
    gamma = Euler-Mascheroni) — answering the capacity question MAD
    outlier flags can't: 'what daily peak should we expect once in 20
    days, and how likely is tomorrow to beat the historical max?'.
    The 20-day return level is mu - beta*ln(-ln(1 - 1/20)); the
    exceedance probability is the Gumbel CDF complement at the
    observed record. Block-maxima shape: one day-keyed hash agg (the
    only shuffle, day-cardinality output), exact HUGEINT/DECIMAL
    moments over integer cents, then a 1-row closed-form projection
    — the same determinism discipline as [[stats_anova_oneway]]."""
    ev = load_table(spark, sf_dir, "events")
    cents = to_cents("value")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.max(cents).alias("mx")
    )
    dec = "decimal(28,0)"
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("mx").cast(dec)).cast("double").alias("s"),
        F.sum(F.col("mx").cast(dec) * F.col("mx")).cast("double").alias("ss"),
        F.max("mx").cast("double").alias("hist_max"),
    )
    n = F.col("n")
    mean = F.col("s") / n
    # n = 1 day: sample sd undefined -> 0.0, beta 0, the degenerate
    # point-mass fit (ANSI class; both engines agree)
    sd = F.when(
        n > 1, F.sqrt((F.col("ss") - F.col("s") * F.col("s") / n) / (n - 1))
    ).otherwise(0.0)
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    mu = mean - 0.5772156649015329 * beta
    return m.select(
        n.alias("n_days"),
        F.round(mu, 2).alias("mu_cents"),
        F.round(beta, 2).alias("beta_cents"),
        F.when(
            beta > 0,
            F.round(mu - beta * F.log(-F.log(F.lit(1.0) - 1.0 / 20.0)), 2),
        ).otherwise(F.round(mu, 2)).alias("return_level_20d"),
        F.when(
            beta > 0,
            F.round(1.0 - F.exp(-F.exp(-(F.col("hist_max") - mu) / beta)), 6),
        ).otherwise(0.0).alias("p_exceed_hist_max"),
    )


@register(
    "stats_bayes_ab_normal_approx",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id, {ARM_SQL} AS arm,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY arm
), w AS (
  SELECT {arm_pivot_sql()}
  FROM arms
), post AS (
  SELECT n_a, c_a, n_b, c_b,
         (c_a + 1.0) / (n_a + 2.0) AS m_a,
         (c_b + 1.0) / (n_b + 2.0) AS m_b,
         ((c_a + 1.0) / (n_a + 2.0)) * (1.0 - (c_a + 1.0) / (n_a + 2.0)) / (n_a + 3.0)
           AS v_a,
         ((c_b + 1.0) / (n_b + 2.0)) * (1.0 - (c_b + 1.0) / (n_b + 2.0)) / (n_b + 3.0)
           AS v_b
  FROM w
), z AS (
  SELECT n_a, c_a, n_b, c_b, m_a, m_b,
         (m_b - m_a) / sqrt(v_a + v_b) AS t
  FROM post
), q AS (
  SELECT n_a, c_a, n_b, c_b, m_a, m_b, t,
         {normal_tail_sql("t")} AS tail
  FROM z
)
SELECT CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
       CAST(coalesce(c_a, 0) AS BIGINT) AS conv_a,
       CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
       CAST(coalesce(c_b, 0) AS BIGINT) AS conv_b,
       CASE WHEN n_a IS NULL OR n_b IS NULL THEN 0.0 ELSE round(m_a, 6) END
         AS post_mean_a,
       CASE WHEN n_a IS NULL OR n_b IS NULL THEN 0.0 ELSE round(m_b, 6) END
         AS post_mean_b,
       CASE WHEN n_a IS NULL OR n_b IS NULL THEN 0.5
            WHEN t >= 0 THEN round(1.0 - tail, 6)
            ELSE round(tail, 6) END AS prob_b_beats_a
FROM q
""",
)
def stats_bayes_ab_normal_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout: Beta(1+c, 1+n-c) posteriors per arm
    (uniform prior), P(B beats A) via the normal approximation of the
    posterior difference — the 'probability to be best' number product
    teams act on, complementing the frequentist trio
    ([[stats_two_proportion_ztest]] / [[stats_experiment_power]] /
    [[stats_sprt_sequential]]). Posterior means/variances are exact
    rational arithmetic; the CDF is the same Abramowitz-Stegun
    polynomial as [[stats_benjamini_hochberg]] (no erf dependency,
    bit-identical expression tree both engines). Missing-arm guard
    emits the prior-indifference 0.5 (ADVICE r4 class). Same per-user
    hash agg as the z-test; everything after is a 1-row projection."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv")).withColumn("arm", arm())
    arms = u.groupBy("arm").agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c"))
    w = arms.agg(*arm_pivot())
    missing = F.col("n_a").isNull() | F.col("n_b").isNull()
    m_a = (F.col("c_a") + 1.0) / (F.col("n_a") + 2.0)
    m_b = (F.col("c_b") + 1.0) / (F.col("n_b") + 2.0)
    v_a = m_a * (1.0 - m_a) / (F.col("n_a") + 3.0)
    v_b = m_b * (1.0 - m_b) / (F.col("n_b") + 3.0)
    t = (m_b - m_a) / F.sqrt(v_a + v_b)
    tail = normal_tail(t)
    return w.select(
        F.coalesce(F.col("n_a"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.col("c_a"), F.lit(0)).cast("bigint").alias("conv_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("bigint").alias("n_b"),
        F.coalesce(F.col("c_b"), F.lit(0)).cast("bigint").alias("conv_b"),
        F.when(missing, 0.0).otherwise(F.round(m_a, 6)).alias("post_mean_a"),
        F.when(missing, 0.0).otherwise(F.round(m_b, 6)).alias("post_mean_b"),
        F.when(missing, 0.5)
        .when(t >= 0, F.round(1.0 - tail, 6))
        .otherwise(F.round(tail, 6))
        .alias("prob_b_beats_a"),
    )


@register(
    "stats_experiment_duration",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         min(CAST(ts AS DATE)) AS first_day,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), rate AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_conv,
         CAST(date_diff('day', min(first_day), max(first_day)) + 1 AS BIGINT)
           AS n_days
  FROM u
)
SELECT n_users, n_conv, n_days,
       round(n_users * 1.0 / n_days, 4) AS users_per_day,
       round(n_conv * 1.0 / n_users, 6) AS p_base,
       round(2.0 * 7.84 * (n_conv * 1.0 / n_users) * (1.0 - n_conv * 1.0 / n_users)
             / (0.1 * n_conv * 1.0 / n_users) / (0.1 * n_conv * 1.0 / n_users), 2)
         AS n_required_per_arm,
       CAST(ceil(2.0 * (2.0 * 7.84 * (n_conv * 1.0 / n_users)
                        * (1.0 - n_conv * 1.0 / n_users)
                        / (0.1 * n_conv * 1.0 / n_users)
                        / (0.1 * n_conv * 1.0 / n_users))
                 / (n_users * 1.0 / n_days)) AS BIGINT) AS days_needed
FROM rate
""",
)
def stats_experiment_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment duration planning: given the OBSERVED new-user arrival
    rate and base conversion, how many days must a 50/50 test run to
    detect a 10% relative lift at 80% power / 5% two-sided? n_per_arm =
    2 (z_a+z_b)^2 p(1-p) / (0.1 p)^2 with (1.96+0.84)^2 = 7.84, then
    days = 2n / arrival_rate — the capacity-planning inverse of
    [[stats_experiment_power]] (which scores a FINISHED test's MDE).
    One per-user hash agg -> 1-row projection of exact-integer-derived
    doubles; the arrival window is first-seen-day span, so the answer
    is reproducible from the fixture alone."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        converted().alias("conv"),
    )
    rate = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
        (F.datediff(F.max("first_day"), F.min("first_day")) + 1)
        .cast("bigint")
        .alias("n_days"),
    )
    p = F.col("n_conv") * 1.0 / F.col("n_users")
    n_req = 2.0 * 7.84 * p * (1.0 - p) / (0.1 * p) / (0.1 * p)
    arrival = F.col("n_users") * 1.0 / F.col("n_days")
    return rate.select(
        "n_users",
        "n_conv",
        "n_days",
        F.round(arrival, 4).alias("users_per_day"),
        F.round(p, 6).alias("p_base"),
        F.round(n_req, 2).alias("n_required_per_arm"),
        F.ceil(2.0 * n_req / arrival).cast("bigint").alias("days_needed"),
    )


@register(
    "stats_capture_recapture",
    tags=("stats", "profiling"),
    oracle="""
WITH h1 AS (
  SELECT DISTINCT user_id FROM events
  WHERE CAST(ts AS DATE) <= CAST('2024-01-15' AS DATE)
), h2 AS (
  SELECT DISTINCT user_id FROM events
  WHERE CAST(ts AS DATE) > CAST('2024-01-15' AS DATE)
), counts AS (
  SELECT (SELECT count(*) FROM h1) AS n1,
         (SELECT count(*) FROM h2) AS n2,
         (SELECT count(*) FROM h1 WHERE user_id IN (SELECT user_id FROM h2)) AS m
)
SELECT CAST(n1 AS BIGINT) AS n_first_half,
       CAST(n2 AS BIGINT) AS n_second_half,
       CAST(m AS BIGINT) AS n_both,
       CASE WHEN m > 0
            THEN CAST(floor((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0) AS BIGINT)
            ELSE 0 END AS chapman_estimate,
       CASE WHEN m > 0
            THEN round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
                       - (SELECT count(*) FROM (SELECT user_id FROM h1
                                                UNION SELECT user_id FROM h2)), 2)
            ELSE 0.0 END AS est_unseen_users
FROM counts
""",
)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Chapman's bias-corrected
    Lincoln-Petersen): treat the two halves of the observation window
    as independent 'captures' of the user base; N-hat = (n1+1)(n2+1)/
    (m+1) - 1 estimates TOTAL population including never-seen users —
    the coverage question ('how many users/dup-pairs does our
    telemetry miss?') that raw distinct counts cannot answer, and the
    same estimator dedup-audit teams use on two independent detectors.
    Two distinct-scans + one intersection count: every piece is a
    user-keyed hash agg; m=0 guards to a defined degenerate (ANSI
    class). est_unseen = N-hat minus observed union."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-15").cast("date")
    h1 = ev.filter(F.col("ts").cast("date") <= split).select("user_id").distinct()
    h2 = ev.filter(F.col("ts").cast("date") > split).select("user_id").distinct()
    counts = (
        h1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(h2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(
            h1.join(h2, "user_id").agg(F.count(F.lit(1)).alias("m"))
        )
        .crossJoin(
            h1.unionByName(h2).distinct().agg(F.count(F.lit(1)).alias("n_union"))
        )
    )
    nhat = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0
    return counts.select(
        F.col("n1").cast("bigint").alias("n_first_half"),
        F.col("n2").cast("bigint").alias("n_second_half"),
        F.col("m").cast("bigint").alias("n_both"),
        F.when(F.col("m") > 0, F.floor(nhat)).otherwise(0)
        .cast("bigint")
        .alias("chapman_estimate"),
        F.when(F.col("m") > 0, F.round(nhat - F.col("n_union"), 2))
        .otherwise(0.0)
        .alias("est_unseen_users"),
    )


@register(
    "stats_krippendorff_alpha",
    tags=("stats", "pipeline", "eval"),
    oracle=f"""
WITH ratings AS (
  SELECT d.doc_id, a.j,
         CASE WHEN {md5_int_sql("'lbl-' || d.doc_id || '-' || a.j", 2)} % 10 < 7
              THEN CAST(d.doc_id % 3 AS BIGINT)
              ELSE {md5_int_sql("'alt-' || d.doc_id || '-' || a.j", 2)} % 3 END AS cat
  FROM documents d
  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j) a
  WHERE {md5_int_sql("'skip-' || d.doc_id || '-' || a.j", 2)} % 5 <> 0
), unit_cat AS (
  SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS n_uc
  FROM ratings GROUP BY 1, 2
), unit AS (
  SELECT doc_id, CAST(sum(n_uc) AS BIGINT) AS m_u FROM unit_cat GROUP BY 1
), usable AS (
  SELECT uc.doc_id, uc.cat, uc.n_uc, u.m_u
  FROM unit_cat uc JOIN unit u ON uc.doc_id = u.doc_id
  WHERE u.m_u >= 2
), do_parts AS (
  SELECT sum(n_uc * (m_u - n_uc) * 1.0 / (m_u - 1)) AS d_obs_num,
         CAST(sum(n_uc) AS BIGINT) AS n_tot
  FROM usable
), cat_tot AS (
  SELECT cat, CAST(sum(n_uc) AS BIGINT) AS n_c FROM usable GROUP BY cat
), de AS (
  SELECT sum(n_c * (t.n_tot - n_c) * 1.0 / (t.n_tot - 1)) AS d_exp_num,
         max(t.n_tot) AS n_tot
  FROM cat_tot, do_parts t
)
SELECT CAST(de.n_tot AS BIGINT) AS n_ratings,
       round(dp.d_obs_num / de.n_tot, 6) AS d_observed,
       round(de.d_exp_num / de.n_tot, 6) AS d_expected,
       round(1.0 - (dp.d_obs_num / de.n_tot) / (de.d_exp_num / de.n_tot), 6)
         AS alpha
FROM do_parts dp, de
""",
)
def stats_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) over a 3-annotator labeling pass
    with missing ratings — the inter-annotator agreement measure that,
    unlike [[stats_cohens_kappa]], handles ANY number of raters and
    incomplete coverage (each annotator skips ~20% of docs via an md5
    coin; labels are 70% a doc-derived 'true' category, 30% noise —
    production reads the real annotation table). Coincidence-matrix
    form: D_o = sum_u sum_c n_uc(m_u - n_uc)/(m_u - 1) over units with
    >=2 ratings; D_e from pooled category totals; alpha = 1 - Do/De
    (Krippendorff '04). Every term is an exact-integer count ratio; two
    unit-keyed hash aggs and a 3-row category rollup — annotation QA at
    corpus scale is exactly this shape."""
    docs = load_table(spark, sf_dir, "documents")
    ann = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j")
    )
    doc, j = F.col("doc_id").cast("string"), F.col("j").cast("string")
    skip = md5_int(F.concat(F.lit("skip-"), doc, F.lit("-"), j), 2)
    lbl = md5_int(F.concat(F.lit("lbl-"), doc, F.lit("-"), j), 2)
    alt = md5_int(F.concat(F.lit("alt-"), doc, F.lit("-"), j), 2)
    ratings = (
        ann.filter(skip % 5 != 0)
        .select(
            "doc_id",
            "j",
            F.when(lbl % 10 < 7, (F.col("doc_id") % 3).cast("bigint"))
            .otherwise(alt % 3)
            .alias("cat"),
        )
    )
    unit_cat = ratings.groupBy("doc_id", "cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_uc")
    )
    unit = unit_cat.groupBy("doc_id").agg(F.sum("n_uc").cast("bigint").alias("m_u"))
    usable = unit_cat.join(unit, "doc_id").filter(F.col("m_u") >= 2)
    do_parts = usable.agg(
        F.sum(
            F.col("n_uc") * (F.col("m_u") - F.col("n_uc")) * 1.0
            / (F.col("m_u") - 1)
        ).alias("d_obs_num"),
        F.sum("n_uc").cast("bigint").alias("n_tot"),
    )
    cat_tot = usable.groupBy("cat").agg(F.sum("n_uc").cast("bigint").alias("n_c"))
    de = cat_tot.crossJoin(F.broadcast(do_parts)).agg(
        F.sum(
            F.col("n_c") * (F.col("n_tot") - F.col("n_c")) * 1.0
            / (F.col("n_tot") - 1)
        ).alias("d_exp_num"),
        F.max("n_tot").alias("n_tot"),
    )
    return do_parts.crossJoin(F.broadcast(de.select("d_exp_num", F.col("n_tot").alias("n_tot2")))).select(
        F.col("n_tot2").cast("bigint").alias("n_ratings"),
        F.round(F.col("d_obs_num") / F.col("n_tot2"), 6).alias("d_observed"),
        F.round(F.col("d_exp_num") / F.col("n_tot2"), 6).alias("d_expected"),
        F.round(
            1.0
            - (F.col("d_obs_num") / F.col("n_tot2"))
            / (F.col("d_exp_num") / F.col("n_tot2")),
            6,
        ).alias("alpha"),
    )


def _markov_oracle(k_steps: int = 8) -> str:
    """Build the k-step absorption oracle: chained CTEs a1..aK, each one
    matrix-vector step v -> P.v with the absorbing state pinned at 1."""
    steps = []
    prev = "a0"
    for k in range(1, k_steps + 1):
        steps.append(f"""
, x{k} AS (
  SELECT p.src AS state, sum(p.prob * v.p) AS p
  FROM p JOIN {prev} v ON p.dst = v.state
  GROUP BY p.src
), a{k} AS (
  SELECT s.state,
         CASE WHEN s.state = 'purchase' THEN 1.0
              ELSE coalesce(x.p, 0.0) END AS p
  FROM states s LEFT JOIN x{k} x ON s.state = x.state
)""")
        prev = f"a{k}"
    return f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), trans AS (
  SELECT event_type AS src, next_type AS dst, count(*) AS c
  FROM ordered
  WHERE next_type IS NOT NULL AND event_type <> 'purchase'
  GROUP BY 1, 2
), out_tot AS (
  SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM trans GROUP BY src
), p AS (
  SELECT t.src, t.dst, t.c * 1.0 / o.tot AS prob
  FROM trans t JOIN out_tot o ON t.src = o.src
), states AS (
  SELECT DISTINCT event_type AS state FROM events
), a0 AS (
  SELECT state, CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS p
  FROM states
){''.join(steps)}
SELECT s.state,
       CAST(coalesce(o.tot, 0) AS BIGINT) AS n_out_transitions,
       round(a.p, 6) AS p_convert_8
FROM states s
LEFT JOIN out_tot o ON s.state = o.src
JOIN {prev} a ON s.state = a.state
"""


@register(
    "stats_markov_absorption",
    tags=("stats", "events", "analytics"),
    oracle=_markov_oracle(8),
)
def stats_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-step absorption probability of the user-journey Markov chain:
    from each event-type state, the probability of reaching 'purchase'
    within the next 8 transitions — the funnel question
    [[stats_event_transitions]]'s raw matrix can't answer without the
    chain algebra (and the bounded-horizon form of the classic
    absorbing-chain solve: v_k = P v_{k-1} with the absorbing state
    pinned at 1, unrolled 8 matrix-vector steps on BOTH engines, so no
    convergence tolerance enters the oracle). Transition probabilities
    are exact count ratios from one lead() window over user-ordered
    events (ties pinned by event_id — the r3 discipline); each step is
    a state-cardinality join (|S|^2 rows at most — metadata-sized
    forever), so at 100 TB the only data-scale work is the window scan
    and the (src,dst) count agg."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = (
        ordered.filter(
            F.col("next_type").isNotNull() & (F.col("event_type") != "purchase")
        )
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out_tot = trans.groupBy("src").agg(F.sum("c").cast("bigint").alias("tot"))
    p = trans.join(out_tot, "src").select(
        "src", "dst", (F.col("c") * 1.0 / F.col("tot")).alias("prob")
    ).localCheckpoint(eager=False)
    states = ev.select(F.col("event_type").alias("state")).distinct()
    v = states.select(
        "state",
        F.when(F.col("state") == "purchase", 1.0).otherwise(0.0).alias("p"),
    )
    for _ in range(8):
        x = (
            p.join(v.withColumnRenamed("state", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("prob") * F.col("p")).alias("p"))
            .withColumnRenamed("src", "state")
        )
        v = states.join(x, "state", "left").select(
            "state",
            F.when(F.col("state") == "purchase", 1.0)
            .otherwise(F.coalesce(F.col("p"), F.lit(0.0)))
            .alias("p"),
        )
    return (
        states.join(out_tot.withColumnRenamed("src", "state"), "state", "left")
        .join(v, "state")
        .select(
            "state",
            F.coalesce(F.col("tot"), F.lit(0)).cast("bigint").alias(
                "n_out_transitions"
            ),
            F.round("p", 6).alias("p_convert_8"),
        )
    )


@register(
    "eval_calibration_brier",
    tags=("stats", "eval", "ml"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {CONVERTED_SQL}
           AS y
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id, y,
         least(9.5e-1, greatest(5e-2,
           1.5e-1 + 5.5e-1 * y
                + 2.5e-1 * ({md5_int_sql("'cal-' || user_id", 2)} % 256) / 255e0)) AS p_hat
  FROM u
), binned AS (
  SELECT CAST(least(floor(p_hat * 1e1), 9) AS BIGINT) AS bin, y, p_hat
  FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(p_hat), 6) AS mean_predicted,
       round(avg(y * 1.0), 6) AS observed_rate,
       round(avg((p_hat - y) * (p_hat - y)), 6) AS brier_contrib
FROM binned
GROUP BY bin
""",
)
def eval_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + per-bin Brier contribution for a scored
    binary outcome — the reliability diagram every model-eval harness
    draws (mean predicted vs observed rate per decile bin; a
    well-calibrated scorer has the two equal per bin, and the Brier
    decomposition localizes WHERE it miscalibrates). The score column
    is a deterministic pseudo-model (md5 noise around the true label,
    so bins exercise both calibrated and biased regions; production
    reads the model-output column — [[eval_em_f1_scoring]]'s
    discipline). All inputs are exact integer ratios; the per-user
    hash agg is the only data-scale work and the report is 10 rows.
    Mean of (p-y)^2 doubles per bin is well-conditioned at 6dp.

    Oracle hazard pinned here: DuckDB parses plain decimal literals
    (0.25) as DECIMAL and evaluates the score EXACTLY, which lands
    boundary users in different floor() bins than Spark's DOUBLE
    arithmetic — invisible under 6dp rounding, fatal under binning.
    The oracle spells every literal in e-notation (2.5e-1), which
    DuckDB types as DOUBLE, making both expression trees IEEE-identical
    before the floor."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("y"))
    coin = md5_int(F.concat(F.lit("cal-"), F.col("user_id").cast("string")), 2) % 256
    p_hat = F.least(
        F.lit(0.95),
        F.greatest(F.lit(0.05), 0.15 + 0.55 * F.col("y") + 0.25 * coin / 255.0),
    )
    binned = u.select(
        F.least(F.floor(p_hat * 10), F.lit(9)).cast("bigint").alias("bin"),
        "y",
        p_hat.alias("p_hat"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("p_hat"), 6).alias("mean_predicted"),
        F.round(F.avg(F.col("y") * 1.0), 6).alias("observed_rate"),
        F.round(
            F.avg((F.col("p_hat") - F.col("y")) * (F.col("p_hat") - F.col("y"))), 6
        ).alias("brier_contrib"),
    )


@register(
    "stats_negbinom_overdispersion",
    tags=("stats", "events"),
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS s,
         CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS ss
  FROM daily GROUP BY 1
)
SELECT event_type, n_days,
       round(s / n_days, 4) AS mean_daily,
       round((ss - s * s / n_days) / (n_days - 1), 4) AS var_daily,
       round(((ss - s * s / n_days) / (n_days - 1)) / (s / n_days), 4)
         AS dispersion_index,
       CASE WHEN (ss - s * s / n_days) / (n_days - 1) > s / n_days
            THEN round((s / n_days) * (s / n_days)
                       / ((ss - s * s / n_days) / (n_days - 1) - s / n_days), 4)
            ELSE 0.0 END AS nb_r_estimate
FROM m
""",
)
def stats_negbinom_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion triage on daily event counts: the variance/mean
    dispersion index (=1 under Poisson) and the method-of-moments
    negative-binomial size r = m^2/(v - m) when overdispersed — the
    decision input for whether [[stats_rate_anomaly_poisson]]'s
    Poisson thresholds are honest or need NB quantiles (bursty traffic
    always overdisperses). Exact HUGEINT/DECIMAL count moments per
    event type, day-cardinality agg, 5-row projection; the
    equidispersed guard emits 0.0 (ANSI class)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dec = "decimal(28,0)"
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("c").cast(dec)).cast("double").alias("s"),
        F.sum(F.col("c").cast(dec) * F.col("c")).cast("double").alias("ss"),
    )
    n = F.col("n_days")
    mean = F.col("s") / n
    var = (F.col("ss") - F.col("s") * F.col("s") / n) / (n - 1)
    return m.select(
        "event_type",
        "n_days",
        F.round(mean, 4).alias("mean_daily"),
        F.round(var, 4).alias("var_daily"),
        F.round(var / mean, 4).alias("dispersion_index"),
        F.when(var > mean, F.round(mean * mean / (var - mean), 4))
        .otherwise(0.0)
        .alias("nb_r_estimate"),
    )


@register(
    "stats_diff_in_diff",
    tags=("stats", "experiment"),
    oracle=f"""
WITH cell AS (
  SELECT {ARM_SQL} AS treated,
         CASE WHEN CAST(ts AS DATE) >= CAST('2024-01-16' AS DATE)
              THEN 1 ELSE 0 END AS post,
         {to_cents_sql("value")} AS cents
  FROM events
), m AS (
  SELECT treated, post,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS s
  FROM cell GROUP BY 1, 2
), w AS (
  SELECT max(CASE WHEN treated = 1 AND post = 1 THEN s / n END) AS t_post,
         max(CASE WHEN treated = 1 AND post = 0 THEN s / n END) AS t_pre,
         max(CASE WHEN treated = 0 AND post = 1 THEN s / n END) AS c_post,
         max(CASE WHEN treated = 0 AND post = 0 THEN s / n END) AS c_pre,
         CAST(sum(n) AS BIGINT) AS n_events
  FROM m
)
SELECT n_events,
       round(t_pre, 4) AS treated_pre,
       round(t_post, 4) AS treated_post,
       round(c_pre, 4) AS control_pre,
       round(c_post, 4) AS control_post,
       round((t_post - t_pre) - (c_post - c_pre), 4) AS did_estimate,
       round(t_post - t_pre, 4) AS naive_before_after,
       round(t_post - c_post, 4) AS naive_cross_section
FROM w
""",
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on mean event value (cents): treated =
    odd user ids, post = the second half of the observation window —
    the quasi-experimental estimator for launches WITHOUT an A/B
    gate (DiD = (T_post - T_pre) - (C_post - C_pre) nets out both the
    group level difference and the common time trend; Card-Krueger
    '94). The two naive estimators are emitted alongside because the
    gap between them and DiD IS the confounding being removed — the
    before/after estimate absorbs the time trend, the cross-section
    absorbs the group gap. One 4-cell hash agg over exact integer
    cents; the estimator is a 1-row projection. The parallel-trends
    check this needs at scale is [[temporal_weekend_lift]]'s
    pre-period slope comparison per group."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("date")
    cell = ev.select(
        arm().alias("treated"),
        F.when(F.col("ts").cast("date") >= split, 1).otherwise(0).alias("post"),
        to_cents("value").alias("cents"),
    )
    m = cell.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(28,0)")).cast("double").alias("s"),
    )
    mean = F.col("s") / F.col("n")
    w = m.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), mean)).alias("t_post"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), mean)).alias("t_pre"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), mean)).alias("c_post"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), mean)).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return w.select(
        "n_events",
        F.round("t_pre", 4).alias("treated_pre"),
        F.round("t_post", 4).alias("treated_post"),
        F.round("c_pre", 4).alias("control_pre"),
        F.round("c_post", 4).alias("control_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 4
        ).alias("did_estimate"),
        F.round(F.col("t_post") - F.col("t_pre"), 4).alias("naive_before_after"),
        F.round(F.col("t_post") - F.col("c_post"), 4).alias("naive_cross_section"),
    )


@register(
    "stats_tost_equivalence",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id, {ARM_SQL} AS arm,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY arm
), w AS (
  SELECT {arm_pivot_sql(wrap="coalesce({}, 0)")}
  FROM arms
), s AS (
  SELECT n_a, n_b,
         c_a * 1e0 / n_a AS p_a,
         c_b * 1e0 / n_b AS p_b,
         sqrt((c_a * 1e0 / n_a) * (1e0 - c_a * 1e0 / n_a) / n_a
              + (c_b * 1e0 / n_b) * (1e0 - c_b * 1e0 / n_b) / n_b) AS se
  FROM w WHERE n_a > 0 AND n_b > 0
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(p_b - p_a, 6) AS diff,
       round(se, 6) AS std_err,
       CASE WHEN se > 0 THEN round((p_b - p_a + 5e-2) / se, 4) ELSE 0.0 END
         AS z_lower,
       CASE WHEN se > 0 THEN round((5e-2 - (p_b - p_a)) / se, 4) ELSE 0.0 END
         AS z_upper,
       CASE WHEN se > 0
              AND (p_b - p_a + 5e-2) / se > 1.645
              AND (5e-2 - (p_b - p_a)) / se > 1.645
            THEN 1 ELSE 0 END AS equivalent
FROM s
""",
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests, Schuirmann '87) on
    the conversion A/B with a ±5 pp margin: both z = (d+m)/se and
    z = (m-d)/se must clear 1.645 (alpha 5% per side) to declare the
    arms EQUIVALENT — the question a migration/refactor ship gate asks
    ('prove it did NOT change the metric'), which
    [[stats_two_proportion_ztest]]'s non-significance cannot answer
    (absence of evidence != evidence of absence). Unpooled SE per the
    standard TOST form. Same per-user hash agg as the rest of the
    experiment ladder; 1-row projection of exact-integer ratios with
    e-notation literals on the oracle side (decimal-literal hazard)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv")).withColumn("arm", arm())
    arms = u.groupBy("arm").agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c"))
    w = arms.agg(*arm_pivot(wrap=lambda c: F.coalesce(c, F.lit(0)))).filter(
        (F.col("n_a") > 0) & (F.col("n_b") > 0)
    )
    p_a = F.col("c_a") * 1.0 / F.col("n_a")
    p_b = F.col("c_b") * 1.0 / F.col("n_b")
    se = F.sqrt(p_a * (1.0 - p_a) / F.col("n_a") + p_b * (1.0 - p_b) / F.col("n_b"))
    d = p_b - p_a
    m = 0.05
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(d, 6).alias("diff"),
        F.round(se, 6).alias("std_err"),
        F.when(se > 0, F.round((d + m) / se, 4)).otherwise(0.0).alias("z_lower"),
        F.when(se > 0, F.round((m - d) / se, 4)).otherwise(0.0).alias("z_upper"),
        F.when((se > 0) & ((d + m) / se > 1.645) & ((m - d) / se > 1.645), 1)
        .otherwise(0)
        .alias("equivalent"),
    )


@register(
    "stats_ratio_delta_method",
    tags=("stats", "experiment"),
    oracle=f"""
WITH per_user AS (
  SELECT user_id, {ARM_SQL} AS arm,
         CAST(sum({to_cents_sql("value")}) AS BIGINT) AS x_cents,
         CAST(count(*) AS BIGINT) AS y_events
  FROM events GROUP BY user_id
), m AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x_cents AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(y_events AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(x_cents AS HUGEINT) * x_cents) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y_events AS HUGEINT) * y_events) AS DOUBLE) AS syy,
         CAST(sum(CAST(x_cents AS HUGEINT) * y_events) AS DOUBLE) AS sxy
  FROM per_user GROUP BY arm
), d AS (
  SELECT arm, n,
         sx / sy AS ratio,
         sx / n AS mx, sy / n AS my,
         (sxx - sx * sx / n) / (n - 1) AS vx,
         (syy - sy * sy / n) / (n - 1) AS vy,
         (sxy - sx * sy / n) / (n - 1) AS cxy
  FROM m
)
SELECT arm, n,
       round(ratio, 6) AS cents_per_event,
       round(sqrt(greatest(
               (vx + ratio * ratio * vy - 2e0 * ratio * cxy) / (my * my) / n,
               0e0)), 6) AS delta_se
FROM d
""",
)
def stats_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a RATIO metric (cents per event,
    per arm): ratio metrics violate the i.i.d. assumption user-level
    t-tests make — the unit of analysis is the user but the metric
    divides two user-level sums — so the correct variance is
    (vx + r^2 vy - 2 r cov(x,y)) / (my^2 n) (Deng et al. KDD'18, the
    estimator every experimentation platform ships for revenue-per-
    session). All five co-moments accumulate as exact HUGEINT/DECIMAL
    integers in ONE per-arm agg; the SE is a deterministic 2-row
    projection. The negative-variance guard (greatest 0) covers the
    degenerate all-identical-users corner on both engines."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(to_cents("value")).cast("bigint").alias("x_cents"),
        F.count(F.lit(1)).cast("bigint").alias("y_events"),
    ).withColumn("arm", arm())
    dec = "decimal(28,0)"
    m = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x_cents").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y_events").cast(dec)).cast("double").alias("sy"),
        F.sum(F.col("x_cents").cast(dec) * F.col("x_cents")).cast("double").alias("sxx"),
        F.sum(F.col("y_events").cast(dec) * F.col("y_events")).cast("double").alias("syy"),
        F.sum(F.col("x_cents").cast(dec) * F.col("y_events")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    ratio = F.col("sx") / F.col("sy")
    my = F.col("sy") / n
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cxy = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    var = (vx + ratio * ratio * vy - 2.0 * ratio * cxy) / (my * my) / n
    return m.select(
        "arm",
        "n",
        F.round(ratio, 6).alias("cents_per_event"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("delta_se"),
    )


@register(
    "stats_qini_uplift_deciles",
    tags=("stats", "experiment", "ml"),
    oracle=f"""
WITH u AS (
  SELECT user_id, {ARM_SQL} AS treated,
         {CONVERTED_SQL} AS conv,
         {md5_int_sql("'uplift-' || user_id", 4)} % 10000 AS score
  FROM events GROUP BY user_id
), decile AS (
  SELECT treated, conv,
         CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT) AS dec
  FROM u
), cell AS (
  SELECT dec,
         CAST(sum(treated) AS BIGINT) AS n_t,
         CAST(sum(treated * conv) AS BIGINT) AS c_t,
         CAST(sum(1 - treated) AS BIGINT) AS n_c,
         CAST(sum((1 - treated) * conv) AS BIGINT) AS c_c
  FROM decile GROUP BY dec
), scored AS (
  SELECT dec, n_t, c_t, n_c, c_c,
         CASE WHEN n_t > 0 AND n_c > 0
              THEN c_t * 1e0 / n_t - c_c * 1e0 / n_c ELSE 0e0 END AS uplift,
         CASE WHEN n_c > 0
              THEN c_t - c_c * 1e0 * n_t / n_c ELSE c_t * 1e0 END AS qini_inc
  FROM cell
)
SELECT dec, n_t, c_t, n_c, c_c,
       round(uplift, 6) AS uplift,
       round(sum(qini_inc) OVER (ORDER BY dec ROWS UNBOUNDED PRECEDING), 4)
         AS qini_cumulative
FROM scored
""",
)
def stats_qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-by-decile + cumulative Qini curve: users ranked by a
    deterministic targeting score (md5 stand-in; production reads the
    uplift model's output), split into deciles, and each decile's
    incremental conversions c_t - c_c*(n_t/n_c) accumulated down the
    ranking — the standard evaluation for 'whom should we treat'
    models (Radcliffe '07), answering what [[stats_diff_in_diff]] and
    the A/B ladder can't: does the TARGETING order capture the
    treatment effect early. A random score (as here) yields a
    near-diagonal Qini — the null baseline the test pins. One per-user
    agg, one decile window, 10-row output; e-notation literals, the
    missing-cell guard emits the defined degenerate."""
    ev = load_table(spark, sf_dir, "events")
    score = md5_int(F.concat(F.lit("uplift-"), F.col("user_id").cast("string")), 4) % 10000
    u = ev.groupBy("user_id").agg(converted().alias("conv")).select(
        "user_id",
        arm().alias("treated"),
        "conv",
        score.alias("score"),
    )
    from pyspark.sql import Window

    from .ranks import ntile_from_rn, two_phase_ordered

    # two-phase banded decile (VERDICT r7 #4): score is a bounded 0..9999
    # hash, so the negated hundreds-bucket is monotone along the desc order
    n_tot = u.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    ranked = two_phase_ordered(
        u,
        -((F.col("score") / 100).cast("bigint")),
        [F.col("score").desc(), "user_id"],
        rn="_rn",
    ).crossJoin(F.broadcast(n_tot))
    dec = ntile_from_rn(F.col("_rn"), F.col("_n"), 10).cast("bigint")
    cell = ranked.withColumn("dec", dec).groupBy("dec").agg(
        F.sum("treated").cast("bigint").alias("n_t"),
        F.sum(F.col("treated") * F.col("conv")).cast("bigint").alias("c_t"),
        F.sum(1 - F.col("treated")).cast("bigint").alias("n_c"),
        F.sum((1 - F.col("treated")) * F.col("conv")).cast("bigint").alias("c_c"),
    )
    uplift = F.when(
        (F.col("n_t") > 0) & (F.col("n_c") > 0),
        F.col("c_t") * 1.0 / F.col("n_t") - F.col("c_c") * 1.0 / F.col("n_c"),
    ).otherwise(0.0)
    qini_inc = F.when(
        F.col("n_c") > 0,
        F.col("c_t") - F.col("c_c") * 1.0 * F.col("n_t") / F.col("n_c"),
    ).otherwise(F.col("c_t") * 1.0)
    scored = cell.select(
        "dec", "n_t", "c_t", "n_c", "c_c",
        F.round(uplift, 6).alias("uplift"),
        qini_inc.alias("qini_inc"),
    )
    wq = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, Window.currentRow)  # frame: bounded (10 deciles)
    return scored.select(
        "dec", "n_t", "c_t", "n_c", "c_c", "uplift",
        F.round(F.sum("qini_inc").over(wq), 4).alias("qini_cumulative"),
    )


def _em_oracle(k_steps: int = 6) -> str:
    """Unrolled 2-component Gaussian EM oracle over daily cents.
    Every step CTE is MATERIALIZED — the power-iteration lesson
    ([[similarity_power_iteration_pca]]): DuckDB inlines CTEs, and each
    E-step references the previous M-step's single parameter row many
    times, so the un-hinted chain re-expands exponentially."""
    steps = []
    prev = "p0"
    for k in range(1, k_steps + 1):
        steps.append(f"""
, e{k} AS MATERIALIZED (
  SELECT d.x,
         (p.pi1 * exp(-(d.x - p.mu1) * (d.x - p.mu1) / (2e0 * p.var1)) / sqrt(p.var1))
         / ((p.pi1 * exp(-(d.x - p.mu1) * (d.x - p.mu1) / (2e0 * p.var1)) / sqrt(p.var1))
            + ((1e0 - p.pi1) * exp(-(d.x - p.mu2) * (d.x - p.mu2) / (2e0 * p.var2))
               / sqrt(p.var2))) AS r
  FROM daily d, {prev} p
), p{k} AS MATERIALIZED (
  SELECT sum(r) / count(*) AS pi1,
         sum(r * x) / sum(r) AS mu1,
         greatest(sum(r * x * x) / sum(r)
                  - (sum(r * x) / sum(r)) * (sum(r * x) / sum(r)), 1e0) AS var1,
         sum((1e0 - r) * x) / sum(1e0 - r) AS mu2,
         greatest(sum((1e0 - r) * x * x) / sum(1e0 - r)
                  - (sum((1e0 - r) * x) / sum(1e0 - r))
                    * (sum((1e0 - r) * x) / sum(1e0 - r)), 1e0) AS var2
  FROM e{k}
)""")
        prev = f"p{k}"
    return f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(sum({to_cents_sql("value")}) AS DOUBLE) AS x
  FROM events GROUP BY CAST(ts AS DATE)
), init AS MATERIALIZED (
  SELECT min(x) AS lo, max(x) AS hi,
         CAST(count(*) AS BIGINT) AS n,
         (sum(x * x) - sum(x) * sum(x) / count(*)) / (count(*) - 1) AS var0
  FROM daily
), p0 AS MATERIALIZED (
  SELECT 5e-1 AS pi1,
         lo + (hi - lo) / 4e0 AS mu1, greatest(var0, 1e0) AS var1,
         lo + 3e0 * (hi - lo) / 4e0 AS mu2, greatest(var0, 1e0) AS var2,
         n
  FROM init
){''.join(steps)}
SELECT i.n AS n_days,
       round(p.pi1, 6) AS weight1,
       round(p.mu1, 0) AS mu1_cents,
       round(sqrt(p.var1), 0) AS sigma1_cents,
       round(p.mu2, 0) AS mu2_cents,
       round(sqrt(p.var2), 0) AS sigma2_cents
FROM {prev} p, init i
"""


@register(
    "stats_mixture_em_gaussian",
    tags=("stats", "ml"),
    oracle=_em_oracle(6),
)
def stats_mixture_em_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian mixture on daily revenue by SIX unrolled
    EM steps — the third member of the engine-iterative family
    ([[stats_markov_absorption]] chains, [[similarity_power_iteration_pca]]
    eigen): E-step responsibilities from the current parameters,
    M-step reweighted moments, variance floored at 1 cent^2 against
    component collapse. Separates the weekday/weekend (or promo/
    baseline) revenue regimes that a single Gaussian smears — the
    modeling upgrade over [[stats_extreme_value_gumbel]]'s
    single-population tail. Fixed iteration count on BOTH engines means
    no convergence tolerance enters the oracle; outputs round to whole
    cents / 6dp weight, absorbing exp() ulp drift. Scale: the E/M
    frames are day-cardinality; params are ONE row broadcast per step
    (eager-checkpointed in Spark, MATERIALIZED in DuckDB — the
    mirrored anti-blowup discipline)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(to_cents("value")).alias("xi"))
        .select(F.col("xi").cast("double").alias("x"))
        .localCheckpoint(eager=True)
    )
    init = daily.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            (F.sum(F.col("x") * F.col("x"))
             - F.sum("x") * F.sum("x") / F.count(F.lit(1)))
            / (F.count(F.lit(1)) - 1)
        ).alias("var0"),
    )
    params = init.select(
        F.lit(0.5).alias("pi1"),
        (F.col("lo") + (F.col("hi") - F.col("lo")) / 4.0).alias("mu1"),
        F.greatest(F.col("var0"), F.lit(1.0)).alias("var1"),
        (F.col("lo") + 3.0 * (F.col("hi") - F.col("lo")) / 4.0).alias("mu2"),
        F.greatest(F.col("var0"), F.lit(1.0)).alias("var2"),
        "n",
    ).localCheckpoint(eager=True)
    for _ in range(6):
        x, mu1, var1, mu2, var2, pi1 = (
            F.col("x"), F.col("mu1"), F.col("var1"),
            F.col("mu2"), F.col("var2"), F.col("pi1"),
        )
        lik1 = pi1 * F.exp(-(x - mu1) * (x - mu1) / (2.0 * var1)) / F.sqrt(var1)
        lik2 = (1.0 - pi1) * F.exp(-(x - mu2) * (x - mu2) / (2.0 * var2)) / F.sqrt(var2)
        e = daily.crossJoin(F.broadcast(params)).select(
            "x", "n", (lik1 / (lik1 + lik2)).alias("r")
        )
        r = F.col("r")
        new_mu1 = F.sum(r * x) / F.sum(r)
        new_mu2 = F.sum((1.0 - r) * x) / F.sum(1.0 - r)
        # variance as E[x^2] - E[x]^2 per component: nested aggregates
        # (sum of (x - sum(..)/sum(..))^2) are illegal on both engines
        params = e.groupBy("n").agg(
            (F.sum(r) / F.count(F.lit(1))).alias("pi1"),
            new_mu1.alias("mu1"),
            F.greatest(
                F.sum(r * x * x) / F.sum(r) - new_mu1 * new_mu1, F.lit(1.0)
            ).alias("var1"),
            new_mu2.alias("mu2"),
            F.greatest(
                F.sum((1.0 - r) * x * x) / F.sum(1.0 - r) - new_mu2 * new_mu2,
                F.lit(1.0),
            ).alias("var2"),
        ).localCheckpoint(eager=True)
    return params.select(
        F.col("n").alias("n_days"),
        F.round("pi1", 6).alias("weight1"),
        F.round("mu1", 0).alias("mu1_cents"),
        F.round(F.sqrt("var1"), 0).alias("sigma1_cents"),
        F.round("mu2", 0).alias("mu2_cents"),
        F.round(F.sqrt("var2"), 0).alias("sigma2_cents"),
    )


@register(
    "stats_price_elasticity",
    tags=("stats", "analytics"),
    oracle="""
WITH li AS (
  SELECT l_returnflag AS flag,
         ln(CAST(l_quantity AS DOUBLE)) AS lq,
         ln(l_extendedprice / l_quantity) AS lp
  FROM lineitem
  WHERE l_quantity > 0 AND l_extendedprice > 0
)
SELECT flag,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(lq, lp), 4) AS elasticity,
       round(regr_intercept(lq, lp), 4) AS log_intercept,
       round(regr_r2(lq, lp), 6) AS r2,
       CASE WHEN regr_slope(lq, lp) < -1e0 THEN 'elastic'
            WHEN regr_slope(lq, lp) < 0e0 THEN 'inelastic'
            ELSE 'non-negative' END AS regime
FROM li
GROUP BY flag
""",
)
def stats_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per return flag: the slope of
    ln(quantity) on ln(unit price) — the constant-elasticity estimate
    pricing teams read before discounting (slope < -1 = revenue rises
    when price falls), using the same engine-native regr_* aggregates
    as [[stats_retention_decay_fit]]. Unit price derives in-row from
    extended price / quantity; one mergeable co-moment agg per group,
    3-row output, 4dp on the slope (co-moment accumulation posture).
    The classic caveat (price is endogenous; this is correlation, not
    a causal elasticity without an instrument) belongs in the readout
    next to [[stats_diff_in_diff]]'s quasi-experimental framing."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.log(F.col("l_quantity").cast("double")).alias("lq"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
    )
    slope = F.regr_slope(F.col("lq"), F.col("lp"))
    return base.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(slope, 4).alias("elasticity"),
        F.round(F.regr_intercept(F.col("lq"), F.col("lp")), 4).alias("log_intercept"),
        F.round(F.regr_r2(F.col("lq"), F.col("lp")), 6).alias("r2"),
        F.when(slope < -1.0, "elastic")
        .when(slope < 0.0, "inelastic")
        .otherwise("non-negative")
        .alias("regime"),
    )


@register(
    "stats_hurst_rs",
    tags=("stats", "temporal"),
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum({to_cents_sql("value")}) AS DOUBLE) AS x
  FROM events GROUP BY 1
), idx AS (
  SELECT day, x, row_number() OVER (ORDER BY day) - 1 AS rn,
         count(*) OVER () AS n
  FROM daily
), blocks AS (
  SELECT w.w, rn // w.w AS blk, day, x, n
  FROM idx, (SELECT unnest([5, 10, 15]) AS w) w
  WHERE rn // w.w < n // w.w
), stats AS (
  SELECT w, blk, day, x,
         avg(x) OVER (PARTITION BY w, blk) AS mu,
         count(*) OVER (PARTITION BY w, blk) AS nb
  FROM blocks
), dev AS (
  SELECT w, blk,
         sum(x - mu) OVER (PARTITION BY w, blk ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS z,
         (x - mu) * (x - mu) AS sq
  FROM stats
), rs AS (
  SELECT w, blk,
         max(z) - min(z) AS r,
         sqrt(sum(sq) / count(*)) AS s
  FROM dev GROUP BY w, blk
), per_w AS (
  SELECT w, avg(CASE WHEN s > 0 THEN r / s END) AS rs_avg
  FROM rs GROUP BY w
)
SELECT CAST((SELECT max(n) FROM idx) AS BIGINT) AS n_days,
       round(max(CASE WHEN w = 5 THEN rs_avg END), 4) AS rs_w5,
       round(max(CASE WHEN w = 10 THEN rs_avg END), 4) AS rs_w10,
       round(max(CASE WHEN w = 15 THEN rs_avg END), 4) AS rs_w15,
       round(regr_slope(ln(rs_avg), ln(CAST(w AS DOUBLE))), 4) AS hurst_exponent
FROM per_w
""",
)
def stats_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of daily
    revenue: for block sizes w in {5,10,15}, each block's range of
    mean-adjusted cumulative deviations over its population std,
    averaged per w, then H = slope of ln(R/S) on ln(w) — the
    long-memory probe (H≈0.5 random walk, H>0.5 trending/persistent,
    H<0.5 mean-reverting) that tells capacity planners whether
    [[stats_extreme_value_gumbel]]'s i.i.d.-maxima assumption and
    [[stats_rate_anomaly_poisson]]'s independence are even plausible
    (Hurst '51; Mandelbrot-Wallis '69). Shape: day-cardinality frame
    exploded x3 block sizes, per-block windows (partition keys =
    (w, block) — bounded), 3-point closed-form regression. Incomplete
    tail blocks are excluded on both engines."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(to_cents("value")).cast("double").alias("x")
    )
    idx = daily.select(
        "day",
        "x",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("rn"),  # frame: bounded (day-grain)
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    ws = F.explode(F.array(F.lit(5), F.lit(10), F.lit(15))).alias("w")
    blocks = idx.select("day", "x", "rn", "n", ws).filter(
        F.floor(F.col("rn") / F.col("w")) < F.floor(F.col("n") / F.col("w"))
    ).withColumn("blk", F.floor(F.col("rn") / F.col("w")))
    wb = Window.partitionBy("w", "blk")
    stats = blocks.select(
        "w", "blk", "day", "x",
        F.avg("x").over(wb).alias("mu"),
    )
    wz = Window.partitionBy("w", "blk").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dev = stats.select(
        "w", "blk",
        F.sum(F.col("x") - F.col("mu")).over(wz).alias("z"),
        ((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))).alias("sq"),
    )
    rs = dev.groupBy("w", "blk").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.sqrt(F.sum("sq") / F.count(F.lit(1))).alias("s"),
    )
    per_w = rs.groupBy("w").agg(
        F.avg(F.when(F.col("s") > 0, F.col("r") / F.col("s"))).alias("rs_avg")
    )
    n_days = daily.count()
    return per_w.agg(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.round(F.max(F.when(F.col("w") == 5, F.col("rs_avg"))), 4).alias("rs_w5"),
        F.round(F.max(F.when(F.col("w") == 10, F.col("rs_avg"))), 4).alias("rs_w10"),
        F.round(F.max(F.when(F.col("w") == 15, F.col("rs_avg"))), 4).alias("rs_w15"),
        F.round(
            F.regr_slope(F.log(F.col("rs_avg")), F.log(F.col("w").cast("double"))), 4
        ).alias("hurst_exponent"),
    )


@register(
    "events_self_excitation",
    tags=("stats", "events", "temporal"),
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
  FROM events
), trig AS (
  SELECT user_id, event_id AS trig_id, t FROM ev WHERE event_type = 'purchase'
), follow AS (
  SELECT tr.trig_id, count(*) AS k
  FROM trig tr JOIN ev e
    ON e.user_id = tr.user_id
   AND e.t > tr.t AND e.t <= tr.t + 300
   AND e.event_id <> tr.trig_id
  GROUP BY tr.trig_id
), placebo AS (
  SELECT tr.trig_id, count(*) AS k
  FROM trig tr JOIN ev e
    ON e.user_id = tr.user_id
   AND e.t > tr.t + 43200 AND e.t <= tr.t + 43500
   AND e.event_id <> tr.trig_id
  GROUP BY tr.trig_id
), tot AS (
  SELECT (SELECT count(*) FROM trig) AS n_triggers,
         CAST(coalesce((SELECT sum(k) FROM follow), 0) AS BIGINT) AS n_follow,
         CAST(coalesce((SELECT sum(k) FROM placebo), 0) AS BIGINT) AS n_placebo
)
SELECT CAST(n_triggers AS BIGINT) AS n_triggers,
       n_follow, n_placebo,
       round(n_follow * 1e0 / n_triggers, 6) AS follow_per_trigger,
       round(n_placebo * 1e0 / n_triggers, 6) AS placebo_per_trigger,
       CASE WHEN n_placebo > 0 THEN round(n_follow * 1e0 / n_placebo, 4)
            ELSE 0.0 END AS excitation_ratio,
       CASE WHEN n_placebo > 0 AND n_follow * 1e0 / n_placebo > 1.2
            THEN 1 ELSE 0 END AS self_exciting
FROM tot
""",
)
def events_self_excitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-excitation diagnostic (Hawkes-lite): does a purchase raise
    the SAME user's event rate in the next 5 minutes relative to a
    deterministic placebo window 12 h later (same width, same user,
    same trigger times — the built-in control that makes this a
    comparison of two interval joins rather than a model fit)? An
    excitation ratio well above 1 means activity clusters after
    conversions — sessionization gaps ([[events_session_window]]) and
    the Poisson independence assumptions ([[stats_rate_anomaly_poisson]],
    [[stats_hurst_rs]]'s memory probe) all hinge on this. Both windows
    are user-keyed time-band joins — at 100 TB they bucket by
    (user, epoch//300) exactly like [[join_interval_bucketed]]; counts
    are exact integers, one 1-row report."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("t"),
    )
    trig = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("trig_id"), F.col("t").alias("t0")
    )
    def band(lo: int, hi: int):
        return (
            trig.join(
                ev,
                (ev.user_id == trig.user_id)
                & (F.col("t") > F.col("t0") + lo)
                & (F.col("t") <= F.col("t0") + hi)
                & (F.col("event_id") != F.col("trig_id")),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        )
    n_triggers = trig.count()
    follow = band(0, 300).withColumnRenamed("k", "n_follow")
    placebo = band(43200, 43500).withColumnRenamed("k", "n_placebo")
    ratio = F.col("n_follow") * 1.0 / F.col("n_placebo")
    return follow.crossJoin(placebo).select(
        F.lit(n_triggers).cast("bigint").alias("n_triggers"),
        "n_follow",
        "n_placebo",
        F.round(F.col("n_follow") * 1.0 / n_triggers, 6).alias("follow_per_trigger"),
        F.round(F.col("n_placebo") * 1.0 / n_triggers, 6).alias("placebo_per_trigger"),
        F.when(F.col("n_placebo") > 0, F.round(ratio, 4)).otherwise(0.0).alias(
            "excitation_ratio"
        ),
        F.when((F.col("n_placebo") > 0) & (ratio > 1.2), 1).otherwise(0).alias(
            "self_exciting"
        ),
    )


@register(
    "stats_pettitt_changepoint",
    tags=("stats", "temporal"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(round(sum(value) * 1e2) AS BIGINT) AS cents
  FROM events GROUP BY 1
), pairs AS (
  SELECT a.day AS day_t, 
         CASE WHEN a.cents > b.cents THEN 1
              WHEN a.cents < b.cents THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON a.day < b.day
), u AS (
  SELECT d.day,
         CAST(coalesce(sum(CASE WHEN p.day_t <= d.day THEN sgn END), 0) AS BIGINT)
           AS u_t
  FROM daily d LEFT JOIN pairs p ON p.day_t <= d.day
  GROUP BY d.day
), best AS (
  SELECT day, u_t, abs(u_t) AS abs_u,
         row_number() OVER (ORDER BY abs(u_t) DESC, day) AS rn,
         (SELECT count(*) FROM daily) AS n
  FROM u
)
SELECT day AS changepoint_day,
       u_t AS u_stat,
       CAST(n AS BIGINT) AS n_days,
       round(2e0 * exp(-6e0 * u_t * u_t / (n * n * n + n * n)), 6)
         AS p_approx,
       CASE WHEN 2e0 * exp(-6e0 * u_t * u_t / (n * n * n + n * n)) < 5e-2
            THEN 1 ELSE 0 END AS significant
FROM best WHERE rn = 1
""",
)
def stats_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric changepoint test on daily revenue: the
    split day t maximizing |U_t|, U_t = sum of pairwise signs across
    the split (Mann-Whitney two-sample statistic swept over every
    split point), with Pettitt's closed-form p ~ 2 exp(-6U^2/(n^3+n^2))
    — the rank-based complement to [[stats_cusum_changepoint]] (CUSUM
    assumes a mean shift in level; Pettitt only assumes a
    distributional shift, immune to outliers that drag a mean). The
    pairwise sign table is day-cardinality squared (n^2 ~ 900 rows at
    30 days — block-maxima scale, NOT event scale; the day rollup is
    the only data-sized pass). Exact integer signs and counts; the one
    exp() rounds at 6dp."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        to_cents(F.sum("value")).alias("cents")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.col("a.day").alias("day_t"),
        F.when(F.col("a.cents") > F.col("b.cents"), 1)
        .when(F.col("a.cents") < F.col("b.cents"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    u = (
        daily.alias("d")
        .join(pairs, F.col("day_t") <= F.col("d.day"), "left")
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.coalesce(F.sum("sgn"), F.lit(0)).cast("bigint").alias("u_t"))
    )
    n = daily.count()
    from pyspark.sql import Window

    best = u.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.abs(F.col("u_t")).desc(), F.col("day")))  # frame: bounded (day-grain)
    ).filter(F.col("rn") == 1)
    p_approx = 2.0 * F.exp(
        -6.0 * F.col("u_t") * F.col("u_t") / (n**3 + n**2)
    )
    return best.select(
        F.col("day").alias("changepoint_day"),
        F.col("u_t").alias("u_stat"),
        F.lit(n).cast("bigint").alias("n_days"),
        F.round(p_approx, 6).alias("p_approx"),
        F.when(p_approx < 0.05, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_ewma_control_chart",
    tags=("stats", "temporal", "analytics"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(CAST(round(sum(value) * 1e2) AS BIGINT) AS DOUBLE) AS x,
         row_number() OVER (ORDER BY CAST(ts AS DATE)) AS t
  FROM events GROUP BY 1
), base AS (
  SELECT avg(x) AS mu0,
         sqrt((sum(x * x) - sum(x) * sum(x) / count(*)) / (count(*) - 1)) AS sd0
  FROM daily
), ew AS (
  SELECT d.day, d.x, d.t,
         sum(3e-1 * power(7e-1, d.t - i.t) * i.x) AS znum,
         power(7e-1, d.t) AS tail
  FROM daily d JOIN daily i ON i.t <= d.t
  GROUP BY d.day, d.x, d.t
), z AS (
  SELECT e.day, e.x, e.t,
         e.znum + e.tail * b.mu0 AS ewma,
         b.mu0, b.sd0,
         b.sd0 * sqrt(3e-1 / (2e0 - 3e-1)
                      * (1e0 - power(7e-1, 2 * e.t))) AS half_width
  FROM ew e, base b
)
SELECT day,
       CAST(x AS BIGINT) AS cents,
       round(ewma, 4) AS ewma,
       round(mu0 + 3e0 * half_width, 4) AS ucl,
       round(mu0 - 3e0 * half_width, 4) AS lcl,
       CASE WHEN ewma > mu0 + 3e0 * half_width
              OR ewma < mu0 - 3e0 * half_width THEN 1 ELSE 0 END
         AS out_of_control
FROM z
""",
)
def stats_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts '59 / Lucas-Saccucci '90) on daily
    revenue: z_t = lambda*x_t + (1-lambda)*z_{t-1} with lambda = 0.3
    anchored at the series mean, against time-varying 3-sigma limits
    mu0 +/- 3*sd*sqrt(lambda/(2-lambda)*(1-(1-lambda)^2t)) — the SPC
    chart that flags small sustained shifts a Shewhart chart misses,
    complementing [[stats_cusum_changepoint]] (retrospective) with the
    monitoring-time view. Exactness: the recursion unrolls to the
    closed form z_t = sum lambda(1-lambda)^{t-i} x_i + (1-lambda)^t mu0
    — the repo's EWMA fixed-point weighting trick — so both engines
    compute an identical weighted sum over the day-triangle join
    (day-cardinality squared, block scale), no iterative state."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        to_cents(F.sum("value")).cast("double").alias("x")
    ).withColumn("t", F.row_number().over(Window.orderBy("day")))  # frame: bounded (day-grain)
    base = daily.agg(
        F.avg("x").alias("mu0"),
        F.sqrt(
            (F.sum(F.col("x") * F.col("x"))
             - F.sum("x") * F.sum("x") / F.count(F.lit(1)))
            / (F.count(F.lit(1)) - 1)
        ).alias("sd0"),
    )
    d, i = daily.alias("d"), daily.alias("i")
    ew = (
        d.join(i, F.col("i.t") <= F.col("d.t"))
        .groupBy(F.col("d.day").alias("day"), F.col("d.x").alias("x"),
                 F.col("d.t").alias("t"))
        .agg(
            F.sum(
                0.3 * F.pow(F.lit(0.7), F.col("d.t") - F.col("i.t")) * F.col("i.x")
            ).alias("znum")
        )
        .withColumn("tail", F.pow(F.lit(0.7), F.col("t")))
    )
    z = ew.crossJoin(F.broadcast(base)).select(
        "day", "x", "t",
        (F.col("znum") + F.col("tail") * F.col("mu0")).alias("ewma"),
        "mu0",
        (
            F.col("sd0")
            * F.sqrt(0.3 / (2.0 - 0.3) * (1.0 - F.pow(F.lit(0.7), 2 * F.col("t"))))
        ).alias("half_width"),
    )
    ucl = F.col("mu0") + 3.0 * F.col("half_width")
    lcl = F.col("mu0") - 3.0 * F.col("half_width")
    return z.select(
        "day",
        F.col("x").cast("bigint").alias("cents"),
        F.round("ewma", 4).alias("ewma"),
        F.round(ucl, 4).alias("ucl"),
        F.round(lcl, 4).alias("lcl"),
        F.when((F.col("ewma") > ucl) | (F.col("ewma") < lcl), 1)
        .otherwise(0)
        .alias("out_of_control"),
    )


@register(
    "stats_kruskal_wallis",
    tags=("stats", "experiment"),
    oracle="""
WITH v AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 1e2) AS BIGINT) AS cents
  FROM orders
), ranked AS (
  SELECT grp, cents,
         rank() OVER (ORDER BY cents) AS rmin,
         count(*) OVER (PARTITION BY cents) AS nties
  FROM v
), avg_rank AS (
  SELECT grp, rmin + (nties - 1) / 2e0 AS r
  FROM ranked
), g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g, sum(r) AS rsum
  FROM avg_rank GROUP BY grp
), tie_groups AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY cents HAVING count(*) > 1
), tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         sum(rsum * rsum / n_g) AS s
  FROM g
), corr AS (
  SELECT coalesce(sum(CAST(t AS DOUBLE) * t * t - t), 0e0) AS tie_term FROM tie_groups
)
SELECT t.k AS n_groups,
       t.n AS n_rows,
       round((12e0 / (t.n * (t.n + 1e0)) * t.s - 3e0 * (t.n + 1e0))
             / (1e0 - c.tie_term / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)), 4)
         AS h_stat,
       CASE WHEN (12e0 / (t.n * (t.n + 1e0)) * t.s - 3e0 * (t.n + 1e0))
                 / (1e0 - c.tie_term / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n))
                 > 9.488 THEN 1 ELSE 0 END AS significant
FROM tot t, corr c
""",
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order-priority groups — the
    rank-based ANOVA completing the nonparametric ladder
    ([[stats_mann_whitney_u]] is the 2-group form,
    [[stats_anova_oneway]] the parametric twin): H = 12/(N(N+1))
    * sum R_g^2/n_g - 3(N+1), divided by the tie correction
    1 - sum(t^3-t)/(N^3-N), cut at chi-square(4) 9.488. Tie-averaged
    ranks come from the VALUE-GRAIN histogram via the two-phase
    banded rank (`ranks.tie_rank2`, VERDICT r7 #4): no row ever
    carries a rank — per-(group, value) counts join the exact
    2*avg_rank integers, so the one data-sized exchange is a
    map-side-combined groupBy, never a one-task global sort. rank2 =
    2*cum_lt + t + 1 reproduces rank() + (ties-1)/2 exactly (rank
    sums are half-integer-exact in doubles), so the oracle's
    row-level window form hash-matches bit-for-bit."""
    from .ranks import tie_rank2

    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        to_cents("o_totalprice").alias("cents"),
    )
    hist = v.groupBy("grp", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gc")
    )
    vals = hist.groupBy("cents").agg(F.sum("n_gc").cast("bigint").alias("t"))
    r2 = tie_rank2(
        vals, "cents", "t", (F.col("cents") / 100000).cast("bigint")
    ).select("cents", "rank2")
    g = (
        hist.join(r2, "cents")
        .groupBy("grp")
        .agg(
            F.sum("n_gc").cast("bigint").alias("n_g"),
            (
                F.sum(F.col("n_gc") * F.col("rank2")).cast("bigint") * 0.5
            ).alias("rsum"),
        )
    )
    tie_term = (
        v.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0.0),
            ).alias("tie_term")
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("rsum") * F.col("rsum") / F.col("n_g")).alias("s"),
    )
    n = F.col("n")
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("s") - 3.0 * (n + 1.0)
    h = h_raw / (1.0 - F.col("tie_term") / (n.cast("double") * n * n - n))
    return tot.crossJoin(F.broadcast(tie_term)).select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        F.round(h, 4).alias("h_stat"),
        F.when(h > 9.488, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_obf_group_sequential",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id, {ARM_SQL} AS arm,
         min(CAST(ts AS DATE)) AS first_day,
         {CONVERTED_SQL} AS conv
  FROM events GROUP BY user_id
), bounds AS (
  SELECT min(first_day) AS d0, max(first_day) AS d1 FROM u
), looks AS (
  SELECT k.k,
         (SELECT d0 FROM bounds)
           + CAST(ceil(datediff('day', (SELECT d0 FROM bounds),
                                (SELECT d1 FROM bounds)) * k.k / 4e0) AS INTEGER)
           AS cutoff
  FROM (SELECT unnest([1, 2, 3, 4]) AS k) k
), per_look AS (
  SELECT l.k, l.cutoff,
         sum(CASE WHEN u.arm = 1 AND u.first_day <= l.cutoff THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN u.arm = 1 AND u.first_day <= l.cutoff THEN u.conv ELSE 0 END) AS c_b,
         sum(CASE WHEN u.arm = 0 AND u.first_day <= l.cutoff THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN u.arm = 0 AND u.first_day <= l.cutoff THEN u.conv ELSE 0 END) AS c_a
  FROM looks l CROSS JOIN u
  GROUP BY l.k, l.cutoff
), z AS (
  SELECT k, cutoff, n_a, c_a, n_b, c_b,
         CASE WHEN n_a > 0 AND n_b > 0
               AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b
              THEN (c_b * 1e0 / n_b - c_a * 1e0 / n_a)
                   / sqrt(((c_a + c_b) * 1e0 / (n_a + n_b))
                          * (1e0 - (c_a + c_b) * 1e0 / (n_a + n_b))
                          * (1e0 / n_a + 1e0 / n_b))
              ELSE 0e0 END AS zv
  FROM per_look
)
SELECT CAST(k AS BIGINT) AS look,
       CAST(n_a + n_b AS BIGINT) AS n_users,
       round(zv, 4) AS z_score,
       round(2.024 / sqrt(k / 4e0), 4) AS obf_boundary,
       CASE WHEN abs(zv) > 2.024 / sqrt(k / 4e0) THEN 1 ELSE 0 END AS crossed
FROM z
""",
)
def stats_obf_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential monitoring: the conversion A/B
    z-score recomputed at 4 information looks (users accrued by
    first-seen day quartiles) against the OBF spending boundary
    c/sqrt(t) with c = 2.024 (4-look, overall alpha 5%) — the
    peeking-with-a-license design between fixed-horizon
    ([[stats_two_proportion_ztest]]) and fully-sequential
    ([[stats_sprt_sequential]]): early looks demand ~4 sigma, the
    final look pays almost no alpha penalty. Each look is a filtered
    re-aggregate of the SAME per-user frame (one hash agg + a 4-row
    cross join — the looks never rescan events); degenerate pools per
    look emit z = 0 (ADVICE r4 class). Emits the full monitoring
    sheet: per-look n, z, boundary, crossing flag."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        converted().alias("conv"),
    ).withColumn("arm", arm())
    bounds = u.agg(F.min("first_day").alias("d0"), F.max("first_day").alias("d1"))
    looks = (
        bounds.select(
            "d0",
            "d1",
            F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 4)])).alias("k"),
        )
        .select(
            "k",
            F.date_add(
                F.col("d0"),
                F.ceil(F.datediff("d1", "d0") * F.col("k") / 4.0).cast("int"),
            ).alias("cutoff"),
        )
    )
    per_look = (
        looks.crossJoin(u)
        .groupBy("k", "cutoff")
        .agg(
            F.sum(
                F.when((F.col("arm") == 1) & (F.col("first_day") <= F.col("cutoff")), 1)
                .otherwise(0)
            ).alias("n_b"),
            F.sum(
                F.when(
                    (F.col("arm") == 1) & (F.col("first_day") <= F.col("cutoff")),
                    F.col("conv"),
                ).otherwise(0)
            ).alias("c_b"),
            F.sum(
                F.when((F.col("arm") == 0) & (F.col("first_day") <= F.col("cutoff")), 1)
                .otherwise(0)
            ).alias("n_a"),
            F.sum(
                F.when(
                    (F.col("arm") == 0) & (F.col("first_day") <= F.col("cutoff")),
                    F.col("conv"),
                ).otherwise(0)
            ).alias("c_a"),
        )
    )
    p_pool = (F.col("c_a") + F.col("c_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    zv = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0)
        & (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b")),
        (F.col("c_b") * 1.0 / F.col("n_b") - F.col("c_a") * 1.0 / F.col("n_a"))
        / F.sqrt(
            p_pool * (1.0 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
        ),
    ).otherwise(0.0)
    boundary = 2.024 / F.sqrt(F.col("k") / 4.0)
    return per_look.select(
        F.col("k").cast("bigint").alias("look"),
        (F.col("n_a") + F.col("n_b")).cast("bigint").alias("n_users"),
        F.round(zv, 4).alias("z_score"),
        F.round(boundary, 4).alias("obf_boundary"),
        F.when(F.abs(zv) > boundary, 1).otherwise(0).alias("crossed"),
    )

@register(
    "stats_meta_analysis_pooled",
    tags=("stats", "experiment"),
    oracle="""
WITH nat AS (
  SELECT c.c_nationkey AS nation,
         count(*) AS n,
         sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), eff AS (
  SELECT nation,
         x * 1e0 / n AS p,
         (x * 1e0 / n) * (1e0 - x * 1e0 / n) / n AS v
  FROM nat
  WHERE x > 0 AND x < n
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(1e0 / v) AS sw,
         sum(p / v) AS swp,
         sum(p * p / v) AS swpp
  FROM eff
)
SELECT k AS n_segments,
       round(swp / sw, 6) AS pooled_rate,
       round(sqrt(1e0 / sw), 6) AS pooled_se,
       round(swpp - swp * swp / sw, 4) AS q_heterogeneity,
       CASE WHEN swpp - swp * swp / sw > k - 1 AND swpp - swp * swp / sw > 0
            THEN round((swpp - swp * swp / sw - (k - 1))
                       / (swpp - swp * swp / sw), 6)
            ELSE 0.0 END AS i_squared
FROM agg
""",
)
def stats_meta_analysis_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis over the per-nation URGENT-share
    'studies': inverse-variance pooling d = sum(w p)/sum(w) with
    w = 1/v, Cochran's Q = sum(w p^2) - (sum(w p))^2/sum(w) (the
    algebraic expansion — nested aggregates are illegal, the
    [[stats_mixture_em_gaussian]] lesson), and Higgins' I^2 =
    (Q - df)/Q for the share of variance that is real heterogeneity —
    the layer ABOVE [[stats_benjamini_hochberg]]'s per-segment
    decisions: BH asks WHICH segments differ, the pooled estimate asks
    what the common rate is and whether 'common' is even coherent
    (I^2 > 0.75 means don't pool). Degenerate segments (0% or 100%,
    zero variance) are excluded as in standard practice; guards emit
    defined zeros. One join + 25-row algebra."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("x"),
        )
    )
    eff = nat.filter((F.col("x") > 0) & (F.col("x") < F.col("n"))).select(
        (F.col("x") * 1.0 / F.col("n")).alias("p"),
        ((F.col("x") * 1.0 / F.col("n"))
         * (1.0 - F.col("x") * 1.0 / F.col("n")) / F.col("n")).alias("v"),
    )
    agg = eff.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(1.0 / F.col("v")).alias("sw"),
        F.sum(F.col("p") / F.col("v")).alias("swp"),
        F.sum(F.col("p") * F.col("p") / F.col("v")).alias("swpp"),
    )
    q = F.col("swpp") - F.col("swp") * F.col("swp") / F.col("sw")
    return agg.select(
        F.col("k").alias("n_segments"),
        F.round(F.col("swp") / F.col("sw"), 6).alias("pooled_rate"),
        F.round(F.sqrt(1.0 / F.col("sw")), 6).alias("pooled_se"),
        F.round(q, 4).alias("q_heterogeneity"),
        F.when(
            (q > F.col("k") - 1) & (q > 0),
            F.round((q - (F.col("k") - 1)) / q, 6),
        ).otherwise(0.0).alias("i_squared"),
    )


@register(
    "stats_spearman_corr",
    tags=("stats",),
    oracle="""
WITH pair AS (
  SELECT l_orderkey AS id,
         CAST(sum(round(l_extendedprice * (1e0 - l_discount) * 1e2)) AS BIGINT) AS x,
         CAST(sum(l_quantity) AS BIGINT) AS y
  FROM lineitem
  GROUP BY l_orderkey
), rk AS (
  SELECT id,
         rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1) / 2e0 AS r_x,
         rank() OVER (ORDER BY y) + (count(*) OVER (PARTITION BY y) - 1) / 2e0 AS r_y
  FROM pair
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       round(corr(r_x, r_y), 6) AS rho,
       round(corr(r_x, r_y)
             * sqrt((count(*) - 2e0)
                    / (1e0 - corr(r_x, r_y) * corr(r_x, r_y))), 4) AS t_stat,
       CASE WHEN abs(corr(r_x, r_y)
                     * sqrt((count(*) - 2e0)
                            / (1e0 - corr(r_x, r_y) * corr(r_x, r_y)))) > 1.96e0
            THEN 1 ELSE 0 END AS significant
FROM rk
""",
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-order revenue and total
    ordered quantity — the monotone-association twin of Pearson (robust
    to the heavy right tail of revenue, where Pearson under-reads a
    clean monotone link). Tie-averaged ranks per variable come from
    rank() + (ties-1)/2 over integer cents/quantities — the
    [[stats_kruskal_wallis]] / [[stats_mann_whitney_u]] discipline, so
    ranks are deterministic — then rho is plain Pearson on the two rank
    columns (corr(), identical definition both engines) and
    t = rho*sqrt((n-2)/(1-rho^2)) against +-1.96.

    Scale: the per-order agg shuffles lineitem on orderkey once; each
    variable's tie-averaged ranks come from its VALUE-GRAIN histogram
    via the two-phase banded rank (`ranks.tie_rank2`, VERDICT r7 #4 —
    rank2/2 joined back by value replaces the one-task global sort
    bit-for-bit, since avg rank depends only on the value); the final
    corr is a one-row mergeable agg."""
    from .ranks import tie_rank2

    li = load_table(spark, sf_dir, "lineitem")
    pair = li.groupBy(F.col("l_orderkey").alias("id")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum("l_quantity").cast("bigint").alias("y"),
    )
    hx = pair.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    rx = tie_rank2(hx, "x", "t", (F.col("x") / 1000000).cast("bigint")).select(
        "x", (F.col("rank2") * 0.5).alias("r_x")
    )
    hy = pair.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    ry = tie_rank2(hy, "y", "t", (F.col("y") / 8).cast("bigint")).select(
        "y", (F.col("rank2") * 0.5).alias("r_y")
    )
    rk = pair.join(rx, "x").join(ry, "y").select("id", "r_x", "r_y")
    rho = F.corr("r_x", "r_y")
    t = rho * F.sqrt((F.count(F.lit(1)) - 2.0) / (1.0 - rho * rho))
    return rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(rho, 6).alias("rho"),
        F.round(t, 4).alias("t_stat"),
        F.when(F.abs(t) > 1.96, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_ljung_box",
    tags=("stats", "temporal"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(c) * 1e0 / count(*) AS xbar
  FROM daily
), lagged AS (
  SELECT c,
         lag(c, 1) OVER (ORDER BY d) AS l1,
         lag(c, 2) OVER (ORDER BY d) AS l2,
         lag(c, 3) OVER (ORDER BY d) AS l3,
         lag(c, 4) OVER (ORDER BY d) AS l4,
         lag(c, 5) OVER (ORDER BY d) AS l5
  FROM daily
), sums AS (
  SELECT max(b.n) AS n,
         sum((c - b.xbar) * (c - b.xbar)) AS den,
         sum(CASE WHEN l1 IS NOT NULL THEN (c - b.xbar) * (l1 - b.xbar) END) AS n1,
         sum(CASE WHEN l2 IS NOT NULL THEN (c - b.xbar) * (l2 - b.xbar) END) AS n2,
         sum(CASE WHEN l3 IS NOT NULL THEN (c - b.xbar) * (l3 - b.xbar) END) AS n3,
         sum(CASE WHEN l4 IS NOT NULL THEN (c - b.xbar) * (l4 - b.xbar) END) AS n4,
         sum(CASE WHEN l5 IS NOT NULL THEN (c - b.xbar) * (l5 - b.xbar) END) AS n5
  FROM lagged, base b
), r AS (
  SELECT k.k, s.n,
         CASE k.k WHEN 1 THEN s.n1 WHEN 2 THEN s.n2 WHEN 3 THEN s.n3
                  WHEN 4 THEN s.n4 ELSE s.n5 END / s.den AS rk
  FROM (SELECT unnest([1, 2, 3, 4, 5]) AS k) k CROSS JOIN sums s
)
SELECT CAST(k AS BIGINT) AS k,
       round(rk, 6) AS acf,
       round(n * (n + 2e0)
             * sum(rk * rk / (n - k)) OVER (ORDER BY k), 4) AS q_stat,
       CASE WHEN n * (n + 2e0) * sum(rk * rk / (n - k)) OVER (ORDER BY k)
                 > CASE k WHEN 1 THEN 3.841e0 WHEN 2 THEN 5.991e0
                          WHEN 3 THEN 7.815e0 WHEN 4 THEN 9.488e0
                          ELSE 11.07e0 END
            THEN 1 ELSE 0 END AS significant
FROM r
""",
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event-count series —
    "is there ANY autocorrelation up to lag m?", the whiteness check
    run on forecast residuals before trusting a model (vs
    [[stats_autocorrelation]], which reports per-lag corr() of the
    revenue series but no joint test). Proper ACF definition: one
    global mean, denominator = total sum of squares, numerator over the
    (x_t, x_{t-k}) overlap — NOT per-pair corr. Q_m = n(n+2) *
    sum_{k<=m} r_k^2/(n-k), compared to chi-square(m) at 5%
    (3.841/5.991/7.815/9.488/11.07), emitted as a 5-row monitoring
    sheet with cumulative Q.

    Scale: events collapse to date cardinality in one agg (the only
    data-sized exchange); the lag window sorts the tiny daily series in
    one task; the five numerators come from ONE pass over that series
    (no per-lag re-scan); Q is 5-row window algebra."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    base = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("c") * 1.0 / F.count(F.lit(1))).alias("xbar"),
    )
    # unpartitioned window is safe: the frame is the DAILY series
    w = Window.orderBy("d")  # frame: bounded (day-grain)
    lagged = daily.select(
        "c", *[F.lag("c", k).over(w).alias(f"l{k}") for k in range(1, 6)]
    )
    dev = lagged.crossJoin(F.broadcast(base))
    sums = dev.agg(
        F.max("n").alias("n"),
        F.sum((F.col("c") - F.col("xbar")) * (F.col("c") - F.col("xbar"))).alias("den"),
        *[
            F.sum(
                F.when(
                    F.col(f"l{k}").isNotNull(),
                    (F.col("c") - F.col("xbar")) * (F.col(f"l{k}") - F.col("xbar")),
                )
            ).alias(f"n{k}")
            for k in range(1, 6)
        ],
    )
    ks = spark.range(1, 6).select(F.col("id").alias("k"))
    rk_expr = (
        F.when(F.col("k") == 1, F.col("n1"))
        .when(F.col("k") == 2, F.col("n2"))
        .when(F.col("k") == 3, F.col("n3"))
        .when(F.col("k") == 4, F.col("n4"))
        .otherwise(F.col("n5"))
        / F.col("den")
    )
    r = ks.crossJoin(F.broadcast(sums)).select("k", "n", rk_expr.alias("rk"))
    wq = Window.orderBy("k")  # frame: bounded (lag-count rows)
    q = F.col("n") * (F.col("n") + 2.0) * F.sum(
        F.col("rk") * F.col("rk") / (F.col("n") - F.col("k"))
    ).over(wq)
    crit = (
        F.when(F.col("k") == 1, 3.841)
        .when(F.col("k") == 2, 5.991)
        .when(F.col("k") == 3, 7.815)
        .when(F.col("k") == 4, 9.488)
        .otherwise(11.07)
    )
    return r.select(
        "k",
        F.round("rk", 6).alias("acf"),
        F.round(q, 4).alias("q_stat"),
        F.when(q > crit, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_jarque_bera",
    tags=("stats",),
    oracle="""
WITH q AS (
  SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
), s AS (
  SELECT CAST(count(*) AS BIGINT)   AS n,
         CAST(sum(q)       AS BIGINT) AS s1,
         CAST(sum(q*q)     AS BIGINT) AS s2,
         CAST(sum(q*q*q)   AS BIGINT) AS s3,
         CAST(sum(q*q*q*q) AS BIGINT) AS s4
  FROM q
), m AS (
  SELECT n,
         (s3 * 1.0 / n - 3.0 * (s1 * 1.0 / n) * (s2 * 1.0 / n)
          + 2.0 * (s1 * 1.0 / n) ** 3)
         / (s2 * 1.0 / n - (s1 * 1.0 / n) ** 2) ** 1.5 AS skew,
         (s4 * 1.0 / n - 4.0 * (s1 * 1.0 / n) * (s3 * 1.0 / n)
          + 6.0 * (s1 * 1.0 / n) ** 2 * (s2 * 1.0 / n)
          - 3.0 * (s1 * 1.0 / n) ** 4)
         / (s2 * 1.0 / n - (s1 * 1.0 / n) ** 2) ** 2 - 3.0 AS kurt
  FROM s
)
SELECT n AS n_rows,
       round(skew, 6) AS skewness,
       round(kurt, 6) AS excess_kurtosis,
       round(n / 6e0 * (skew * skew + kurt * kurt / 4e0), 4) AS jb_stat,
       CASE WHEN n / 6e0 * (skew * skew + kurt * kurt / 4e0) > 5.991e0
            THEN 1 ELSE 0 END AS significant
FROM m
""",
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on line-item quantity: JB =
    n/6 * (S^2 + K^2/4) from the same exact BIGINT power sums as
    [[agg_higher_moments]] (which reports per-group moments but renders
    no decision), against chi-square(2) 5.991. Quantity is uniform on
    1..50, so the test must reject hard (K ~ -1.2) — a planted
    ground truth the property test pins.

    Scale: one map-side-combinable power-sum agg over the scan (exact
    integers, no variance-of-variance drift), then constant algebra on
    a single row. The cheapest possible distribution-shape alarm for a
    100 TB profiling pass."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    s = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") * 1.0 / n
    m2r = F.col("s2") * 1.0 / n
    m3r = F.col("s3") * 1.0 / n
    m4r = F.col("s4") * 1.0 / n
    var_pop = m2r - m1 ** F.lit(2)
    skew = (m3r - 3.0 * m1 * m2r + 2.0 * m1 ** F.lit(3)) / var_pop ** F.lit(1.5)
    kurt = (
        m4r - 4.0 * m1 * m3r + 6.0 * m1 ** F.lit(2) * m2r - 3.0 * m1 ** F.lit(4)
    ) / var_pop ** F.lit(2) - 3.0
    jb = n / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return s.select(
        n.alias("n_rows"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.when(jb > 5.991, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_cramers_v",
    tags=("stats",),
    oracle="""
WITH obs AS (
  SELECT o_orderpriority AS p, o_orderstatus AS s, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), grid AS (
  SELECT rp.p, cs.s, coalesce(o.c, 0) AS c
  FROM (SELECT DISTINCT p FROM obs) rp
  CROSS JOIN (SELECT DISTINCT s FROM obs) cs
  LEFT JOIN obs o ON o.p = rp.p AND o.s = cs.s
), rt AS (
  SELECT p, sum(c) AS rc FROM grid GROUP BY p
), ct AS (
  SELECT s, sum(c) AS cc FROM grid GROUP BY s
), tot AS (
  SELECT sum(c) * 1e0 AS n,
         CAST(count(DISTINCT p) AS BIGINT) AS np,
         CAST(count(DISTINCT s) AS BIGINT) AS ns
  FROM grid
), chi AS (
  SELECT max(t.n) AS n, max(t.np) AS np, max(t.ns) AS ns,
         sum((g.c - r.rc * c.cc / t.n) * (g.c - r.rc * c.cc / t.n)
             / (r.rc * c.cc / t.n)) AS chi2
  FROM grid g
  JOIN rt r ON r.p = g.p
  JOIN ct c ON c.s = g.s
  CROSS JOIN tot t
)
SELECT CAST(n AS BIGINT) AS n_rows,
       (np - 1) * (ns - 1) AS dof,
       round(chi2, 4) AS chi2,
       round(sqrt(chi2 / (n * (least(np, ns) - 1))), 6) AS cramers_v,
       CASE WHEN chi2 > 15.507e0 THEN 1 ELSE 0 END AS significant
FROM chi
""",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association between order priority (5 levels) and
    order status (3 levels): chi-square over the full contingency grid
    — zero-observed cells are materialized via a distinct-levels cross
    join so their (0-E)^2/E term is NOT silently dropped — then
    V = sqrt(chi2 / (n * (min(r,c)-1))), the [0,1]-normalized effect
    size [[stats_chi_square]] doesn't render. The significance cut is
    chi-square at dof=(5-1)(3-1)=8, 15.507 (the property test pins
    dof==8 so the hardcoded critical value stays honest).

    Scale: the fact table collapses to a 15-cell grid in one hash agg;
    row/column margins and the chi-square are broadcast-joined algebra
    on that grid. Cardinality of the output never depends on n."""
    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rp = obs.select("p").distinct()
    cs = obs.select("s").distinct()
    grid = (
        rp.crossJoin(cs)
        .join(obs, ["p", "s"], "left")
        .select("p", "s", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    rt = grid.groupBy("p").agg(F.sum("c").alias("rc"))
    ct = grid.groupBy("s").agg(F.sum("c").alias("cc"))
    tot = grid.agg(
        (F.sum("c") * 1.0).alias("n"),
        F.countDistinct("p").cast("bigint").alias("np"),
        F.countDistinct("s").cast("bigint").alias("ns"),
    )
    e = F.col("rc") * F.col("cc") / F.col("n")
    chi = (
        grid.join(F.broadcast(rt), "p")
        .join(F.broadcast(ct), "s")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n"),
            F.max("np").alias("np"),
            F.max("ns").alias("ns"),
            F.sum((F.col("c") - e) * (F.col("c") - e) / e).alias("chi2"),
        )
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n_rows"),
        ((F.col("np") - 1) * (F.col("ns") - 1)).alias("dof"),
        F.round("chi2", 4).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("np", "ns") - 1))), 6
        ).alias("cramers_v"),
        F.when(F.col("chi2") > 15.507, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_levene_test",
    tags=("stats", "experiment"),
    oracle="""
WITH v AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 1e2) AS BIGINT) AS x
  FROM orders
), gm AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
         sum(x) * 1e0 / count(*) AS xbar
  FROM v GROUP BY grp
), z AS (
  SELECT v.grp, abs(v.x - g.xbar) AS z
  FROM v JOIN gm g ON g.grp = v.grp
), gz AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
         sum(z) AS sz, sum(z * z) AS szz
  FROM z GROUP BY grp
), tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         sum(sz) AS sz_all,
         sum(n_g * (sz / n_g - (SELECT sum(sz) FROM gz) / (SELECT sum(n_g) FROM gz))
                 * (sz / n_g - (SELECT sum(sz) FROM gz) / (SELECT sum(n_g) FROM gz)))
           AS between_ss,
         sum(szz - sz * sz / n_g) AS within_ss
  FROM gz
)
SELECT n AS n_rows, k AS k_groups,
       round((n - k) * 1e0 / (k - 1) * between_ss / within_ss, 4) AS w_stat,
       CASE WHEN (n - k) * 1e0 / (k - 1) * between_ss / within_ss > 2.372e0
            THEN 1 ELSE 0 END AS significant
FROM tot
""",
)
def stats_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test for variance homogeneity across the five order
    priorities — the assumption gate run BEFORE trusting
    [[stats_anova_oneway]] (ANOVA's pooled-variance F needs equal group
    variances; Levene is ANOVA on z = |x - groupmean|, robust to
    non-normality where Bartlett is not). W = (N-k)/(k-1) *
    between-SS(z)/within-SS(z), cut at F(4,inf) 2.372. Group means come
    from exact cents sums; the within-SS uses the one-pass
    sum(z^2)-sum(z)^2/n form (nested aggregates are illegal on both
    engines).

    Scale: two keyed aggs over the scan (means, then z-moments) with a
    broadcast 5-row means join between them — no window, no sort; the
    final W is k-row algebra."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        to_cents("o_totalprice").alias("x"),
    )
    gm = v.groupBy("grp").agg(
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("xbar")
    )
    z = v.join(F.broadcast(gm), "grp").select(
        "grp", F.abs(F.col("x") - F.col("xbar")).alias("z")
    )
    gz = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    glob = gz.agg(
        (F.sum("sz") / F.sum("n_g")).alias("zbar_all"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    parts = gz.crossJoin(F.broadcast(glob)).agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(
            F.col("n_g")
            * (F.col("sz") / F.col("n_g") - F.col("zbar_all"))
            * (F.col("sz") / F.col("n_g") - F.col("zbar_all"))
        ).alias("between_ss"),
        F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_g")).alias(
            "within_ss"
        ),
    )
    w = (
        (F.col("n") - F.col("k"))
        * 1.0
        / (F.col("k") - 1)
        * F.col("between_ss")
        / F.col("within_ss")
    )
    return parts.select(
        F.col("n").alias("n_rows"),
        F.col("k").alias("k_groups"),
        F.round(w, 4).alias("w_stat"),
        F.when(w > 2.372, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_mantel_haenszel",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST({ARM_SQL} AS BIGINT) AS exposed,
         CAST((user_id // 2) % 3 AS BIGINT) AS stratum,
         {CONVERTED_SQL}
           AS outcome
  FROM events GROUP BY user_id
), cells AS (
  SELECT stratum,
         sum(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END) * 1e0 AS a,
         sum(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END) * 1e0 AS b,
         sum(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END) * 1e0 AS c,
         sum(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END) * 1e0 AS d
  FROM u GROUP BY stratum
), pooled AS (
  SELECT sum(a * d / (a + b + c + d)) AS num,
         sum(b * c / (a + b + c + d)) AS den
  FROM cells
)
SELECT c.stratum,
       CAST(c.a + c.b + c.c + c.d AS BIGINT) AS n_s,
       CAST(c.a AS BIGINT) AS exposed_cases,
       CAST(c.c AS BIGINT) AS unexposed_cases,
       CASE WHEN c.b * c.c > 0e0 THEN round(c.a * c.d / (c.b * c.c), 4)
            ELSE 0e0 END AS or_stratum,
       CASE WHEN p.den > 0e0 THEN round(p.num / p.den, 4) ELSE 0e0 END AS or_mh
FROM cells c CROSS JOIN pooled p
""",
)
def stats_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across strata — the
    confounder-adjusted effect estimate for a binary exposure/outcome
    pair, weighting each stratum's 2x2 table by b_i*c_i/n_i (vs
    [[stats_meta_analysis_pooled]], which pools CONTINUOUS effects by
    inverse variance). Exposure = user parity, outcome = high-value
    purchase, stratum = an independent user-id bit pair — the standard
    deterministic-assignment trick every experiment query here uses.
    Per-stratum ORs sit next to OR_MH so Simpson-paradox reversals are
    visible in one frame; zero-cell strata degrade to 0.0 explicitly
    (the NULL-propagation class the r4 advice flagged on the z-test
    family is guarded here from the start).

    Scale: events collapse to a per-user frame in one agg (the only
    data-sized exchange), then to stratum-cardinality 2x2 cells; the
    pooled sum is a broadcast cross join of two tiny frames."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("outcome")).select(
        arm().cast("bigint").alias("exposed"),
        ((F.col("user_id") / 2).cast("bigint") % 3).cast("bigint").alias("stratum"),
        "outcome",
    )
    cells = u.groupBy("stratum").agg(
        (F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1).otherwise(0)) * 1.0).alias("a"),
        (F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1).otherwise(0)) * 1.0).alias("b"),
        (F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1).otherwise(0)) * 1.0).alias("c"),
        (F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1).otherwise(0)) * 1.0).alias("d"),
    )
    n_i = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    pooled = cells.agg(
        F.sum(F.col("a") * F.col("d") / n_i).alias("num"),
        F.sum(F.col("b") * F.col("c") / n_i).alias("den"),
    )
    return cells.crossJoin(F.broadcast(pooled)).select(
        "stratum",
        n_i.cast("bigint").alias("n_s"),
        F.col("a").cast("bigint").alias("exposed_cases"),
        F.col("c").cast("bigint").alias("unexposed_cases"),
        F.when(
            F.col("b") * F.col("c") > 0.0,
            F.round(F.col("a") * F.col("d") / (F.col("b") * F.col("c")), 4),
        )
        .otherwise(0.0)
        .alias("or_stratum"),
        F.when(F.col("den") > 0.0, F.round(F.col("num") / F.col("den"), 4))
        .otherwise(0.0)
        .alias("or_mh"),
    )


@register(
    "stats_nelson_aalen",
    tags=("stats", "temporal"),
    oracle=f"""
WITH {_repurchase_subjects_sql()}, at_t AS (
  SELECT t,
         CAST(count(*) AS BIGINT) AS n_ending,
         CAST(sum(1 - censored) AS BIGINT) AS d
  FROM subjects GROUP BY t
), risk AS (
  SELECT t, d,
         CAST((SELECT count(*) FROM subjects) AS BIGINT)
           - CAST(coalesce(sum(n_ending) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM at_t
)
SELECT CAST(t AS BIGINT) AS t_days,
       n_risk,
       d AS n_deaths,
       round(sum(d * 1e0 / n_risk)
             OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6) AS cum_hazard,
       round(exp(-sum(d * 1e0 / n_risk)
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
         AS breslow_survival
FROM risk
WHERE d > 0
""",
)
def stats_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the SAME right-censored
    purchase-to-repurchase subjects as [[stats_kaplan_meier]]:
    H(t) = sum d_i/n_i over event times, with Breslow's
    S(t) = exp(-H(t)) beside it. The NA estimator is the standard
    cross-check on KM (H is a plain SUM, so it stays finite and
    well-defined even where a d == n_risk step drives the KM product
    to exact zero — no log-of-zero guard needed at all, one reason NA
    is preferred for hazard-shape reading: a flattening H means the
    repurchase rate is decaying). Sharing the subjects frame verbatim
    means any divergence between the two curves on the same data is
    estimator semantics, never pipeline drift.

    Scale: identical to KM — per-user lead() window, one duration-
    cardinality agg, cumulative windows over day-count rows."""
    from pyspark.sql import Window

    subjects = _repurchase_subjects(load_table(spark, sf_dir, "events"))
    at_t = subjects.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(1 - F.col("censored")).cast("bigint").alias("d"),
    )
    total = subjects.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)  # frame: bounded (day-duration grain)
    risk = at_t.crossJoin(F.broadcast(total)).withColumn(
        "n_risk",
        F.col("_n") - F.coalesce(F.sum("n_ending").over(wcum), F.lit(0)),
    )
    wh = Window.orderBy("t").rowsBetween(  # frame: bounded (day-duration grain)
        Window.unboundedPreceding, Window.currentRow
    )
    h = F.sum(F.col("d") * 1.0 / F.col("n_risk")).over(wh)
    return (
        risk.withColumn("cum_hazard", F.round(h, 6))
        .withColumn("breslow_survival", F.round(F.exp(-h), 6))
        .filter(F.col("d") > 0)
        .select(
            F.col("t").cast("bigint").alias("t_days"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").alias("n_deaths"),
            "cum_hazard",
            "breslow_survival",
        )
    )


@register(
    "events_weekly_churn",
    tags=("stats", "events", "temporal"),
    oracle="""
WITH wk AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
  FROM events
), horizon AS (
  SELECT max(week) AS last_week FROM wk
), joined AS (
  SELECT a.week, a.user_id,
         CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS retained
  FROM wk a
  LEFT JOIN wk b
    ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
)
SELECT j.week,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(sum(j.retained) AS BIGINT) AS retained_users,
       CAST(count(*) - sum(j.retained) AS BIGINT) AS churned_users,
       round((count(*) - sum(j.retained)) * 1e0 / count(*), 4) AS churn_rate
FROM joined j CROSS JOIN horizon h
WHERE j.week < h.last_week
GROUP BY j.week
""",
)
def events_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn sheet: of the users active in ISO week w,
    how many are absent in w+1 (churned) vs present (retained) — the
    operational pulse metric next to [[events_retention_cohorts]]'s
    cohort matrix (cohorts answer "how do vintages decay"; this
    answers "how bad was LAST week"). The final observed week is
    excluded — its successor is unobservable, and counting it would
    fabricate 100% churn (the same censoring honesty as
    [[stats_kaplan_meier]]). Weeks are Monday-truncated dates on both
    engines.

    Scale: events collapse to distinct (week, user) in one agg —
    THE data-sized exchange — then a self-join on (user, week+7) that
    co-partitions on user_id and a week-cardinality final agg. No
    windows over users, no driver loops."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        F.date_trunc("week", "ts").cast("date").alias("week"), "user_id"
    ).distinct()
    horizon = wk.agg(F.max("week").alias("last_week"))
    b = wk.select(
        F.col("week").alias("bweek"), F.col("user_id").alias("buser")
    )
    joined = wk.join(
        b,
        (F.col("buser") == F.col("user_id"))
        & (F.col("bweek") == F.date_add(F.col("week"), 7)),
        "left",
    ).select(
        "week",
        F.when(F.col("buser").isNotNull(), 1).otherwise(0).alias("retained"),
    )
    return (
        joined.crossJoin(F.broadcast(horizon))
        .filter(F.col("week") < F.col("last_week"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("active_users"),
            F.sum("retained").cast("bigint").alias("retained_users"),
            (F.count(F.lit(1)) - F.sum("retained"))
            .cast("bigint")
            .alias("churned_users"),
            F.round(
                (F.count(F.lit(1)) - F.sum("retained")) * 1.0 / F.count(F.lit(1)),
                4,
            ).alias("churn_rate"),
        )
    )


@register(
    "stats_herfindahl_index",
    tags=("stats",),
    oracle="""
WITH rev AS (
  SELECT n.n_name,
         CAST(sum(CAST(round(o.o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
), tot AS (
  SELECT sum(cents) * 1e0 AS total, CAST(count(*) AS BIGINT) AS n_firms
  FROM rev
), h AS (
  SELECT max(t.n_firms) AS n_firms,
         sum((r.cents / t.total) * (r.cents / t.total)) AS hhi
  FROM rev r CROSS JOIN tot t
)
SELECT n_firms,
       round(hhi, 6) AS hhi,
       round((hhi - 1e0 / n_firms) / (1e0 - 1e0 / n_firms), 6) AS hhi_normalized,
       round(1e0 / hhi, 4) AS effective_n
FROM h
""",
)
def stats_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of revenue across customer
    nations: HHI = sum of squared revenue shares, with the
    n-normalized form and the effective number of equal players 1/HHI
    — the concentration lens complementary to
    [[stats_gini_concentration]] (Gini measures inequality of the
    distribution; HHI weights the TOP, which is what an
    antitrust-style or vendor-risk read wants). Shares come from exact
    cents sums so both engines square identical rationals.

    Scale: orders shuffle once on custkey to meet customers; nation is
    a broadcast dim; the squared-share algebra runs on a 25-row frame.
    The same plan shape at 100 TB — HHI's cost IS the one join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.agg(
        (F.sum("cents") * 1.0).alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_firms"),
    )
    share = F.col("cents") / F.col("total")
    h = rev.crossJoin(F.broadcast(tot)).agg(
        F.max("n_firms").alias("n_firms"),
        F.sum(share * share).alias("hhi"),
    )
    return h.select(
        "n_firms",
        F.round("hhi", 6).alias("hhi"),
        F.round(
            (F.col("hhi") - 1.0 / F.col("n_firms"))
            / (1.0 - 1.0 / F.col("n_firms")),
            6,
        ).alias("hhi_normalized"),
        F.round(1.0 / F.col("hhi"), 4).alias("effective_n"),
    )


@register(
    "events_dau_mau_stickiness",
    tags=("stats", "events", "temporal"),
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(ts AS DATE) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1, 2
), monthly AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY 1
), davg AS (
  SELECT month,
         CAST(count(*) AS BIGINT) AS active_days,
         CAST(sum(dau) AS BIGINT) AS dau_sum
  FROM daily GROUP BY month
)
SELECT d.month,
       d.active_days,
       m.mau,
       round(d.dau_sum * 1e0 / d.active_days, 4) AS dau_avg,
       round(d.dau_sum * 1e0 / d.active_days / m.mau, 6) AS stickiness
FROM davg d JOIN monthly m ON m.month = d.month
""",
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — average daily active users over
    monthly active users, THE engagement-intensity ratio (1/30 = users
    show up once a month; 1.0 = every active user shows up every day).
    Sits beside [[events_weekly_churn]] (churn reads retention between
    periods; stickiness reads intensity within one). Day and month
    both truncate from the same timestamp, so a user's presence
    contributes consistently to numerator and denominator.

    Scale: two distinct-user aggs keyed by (month, day) and (month) —
    the day-grain one is partial-aggregated map-side to (day, user)
    pairs; the join meets at month cardinality. No windows, no user
    table materialized."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.countDistinct("user_id").cast("bigint").alias("dau"))
    monthly = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month")
    ).agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    davg = daily.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
    )
    return davg.join(monthly, "month").select(
        "month",
        "active_days",
        "mau",
        F.round(F.col("dau_sum") * 1.0 / F.col("active_days"), 4).alias("dau_avg"),
        F.round(
            F.col("dau_sum") * 1.0 / F.col("active_days") / F.col("mau"), 6
        ).alias("stickiness"),
    )


@register(
    "stats_theil_index",
    tags=("stats",),
    oracle="""
WITH cust AS (
  SELECT c.c_nationkey AS nk,
         CAST(sum(CAST(round(o.o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_nationkey
  HAVING sum(CAST(round(o.o_totalprice * 1e2) AS BIGINT)) > 0
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(cents) * 1e0 AS total FROM cust
), overall AS (
  SELECT sum(c.cents / (t.total / t.n) * ln(c.cents / (t.total / t.n))) / max(t.n)
           AS theil_total
  FROM cust c CROSS JOIN tot t
), grp AS (
  SELECT nk, CAST(count(*) AS BIGINT) AS n_g, sum(cents) * 1e0 AS tot_g
  FROM cust GROUP BY nk
), within_g AS (
  SELECT c.nk,
         sum(c.cents / (g.tot_g / g.n_g) * ln(c.cents / (g.tot_g / g.n_g))) / max(g.n_g)
           AS t_g,
         max(g.tot_g) AS tot_g,
         max(g.n_g) AS n_g
  FROM cust c JOIN grp g ON g.nk = c.nk
  GROUP BY c.nk
), decomp AS (
  SELECT sum(w.tot_g / t.total * w.t_g) AS t_within,
         sum(w.tot_g / t.total
             * ln((w.tot_g / t.total) / (w.n_g * 1e0 / t.n))) AS t_between
  FROM within_g w CROSS JOIN tot t
)
SELECT round(o.theil_total, 6) AS theil_total,
       round(d.t_within, 6) AS theil_within,
       round(d.t_between, 6) AS theil_between,
       round(d.t_between / o.theil_total, 6) AS between_share
FROM overall o CROSS JOIN decomp d
""",
)
def stats_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of per-customer revenue WITH the
    within/between-nation decomposition — the property that makes
    Theil the inequality measure for segmented corpora (Gini does not
    decompose additively; [[stats_gini_concentration]] gives the
    scalar, this says WHERE the inequality lives: T = sum_g s_g T_g +
    sum_g s_g ln(s_g/p_g), revenue shares s_g vs population shares
    p_g). The identity T_total == T_within + T_between is pinned by
    the property test — a real algebra check across three independent
    aggregations.

    Scale: one custkey-keyed agg builds the per-customer frame; group
    means come from a nation-cardinality agg broadcast back; each
    Theil sum is a mergeable single pass. ln() is on ratios of exact
    integers — identical both engines before 6dp rounding."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
        .filter(F.col("cents") > 0)
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("cents") * 1.0).alias("total"),
    )
    mu = F.col("total") / F.col("n")
    overall = cust.crossJoin(F.broadcast(tot)).agg(
        (F.sum(F.col("cents") / mu * F.log(F.col("cents") / mu)) / F.max("n")).alias(
            "theil_total"
        )
    )
    grp = cust.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        (F.sum("cents") * 1.0).alias("tot_g"),
    )
    mu_g = F.col("tot_g") / F.col("n_g")
    within_g = (
        cust.join(F.broadcast(grp), "nk")
        .groupBy("nk")
        .agg(
            (
                F.sum(F.col("cents") / mu_g * F.log(F.col("cents") / mu_g))
                / F.max("n_g")
            ).alias("t_g"),
            F.max("tot_g").alias("tot_g"),
            F.max("n_g").alias("n_g"),
        )
    )
    decomp = within_g.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("tot_g") / F.col("total") * F.col("t_g")).alias("t_within"),
        F.sum(
            F.col("tot_g")
            / F.col("total")
            * F.log(
                (F.col("tot_g") / F.col("total"))
                / (F.col("n_g") * 1.0 / F.col("n"))
            )
        ).alias("t_between"),
    )
    return overall.crossJoin(F.broadcast(decomp)).select(
        F.round("theil_total", 6).alias("theil_total"),
        F.round("t_within", 6).alias("theil_within"),
        F.round("t_between", 6).alias("theil_between"),
        F.round(F.col("t_between") / F.col("theil_total"), 6).alias(
            "between_share"
        ),
    )


@register(
    "stats_logrank_test",
    tags=("stats", "experiment", "temporal"),
    oracle=f"""
WITH {_repurchase_subjects_sql(arm=f"CAST({ARM_SQL} AS BIGINT)")}, arm_tot AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_arm FROM subjects GROUP BY arm
), at_t AS (
  SELECT arm, t,
         CAST(count(*) AS BIGINT) AS n_ending,
         CAST(sum(1 - censored) AS BIGINT) AS d
  FROM subjects GROUP BY arm, t
), grid AS (
  SELECT ts.t, a.arm, coalesce(x.n_ending, 0) AS n_ending, coalesce(x.d, 0) AS d
  FROM (SELECT DISTINCT t FROM at_t) ts
  CROSS JOIN (SELECT DISTINCT arm FROM subjects) a
  LEFT JOIN at_t x ON x.t = ts.t AND x.arm = a.arm
), risk AS (
  SELECT g.t, g.arm, g.d,
         at2.n_arm
           - coalesce(sum(g.n_ending) OVER (PARTITION BY g.arm ORDER BY g.t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM grid g JOIN arm_tot at2 ON at2.arm = g.arm
), wide AS (
  SELECT t,
         sum(CASE WHEN arm = 0 THEN n_risk ELSE 0 END) AS n0,
         sum(CASE WHEN arm = 1 THEN n_risk ELSE 0 END) AS n1,
         sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS d0,
         sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS d1
  FROM risk GROUP BY t
), terms AS (
  SELECT t, n0, n1, d0, d1, n0 + n1 AS nt, d0 + d1 AS dt
  FROM wide WHERE d0 + d1 > 0 AND n0 + n1 > 0
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_event_times,
         sum(d1 - dt * n1 * 1e0 / nt) AS o_minus_e,
         sum(CASE WHEN nt > 1
                  THEN dt * (n1 * 1e0 / nt) * (n0 * 1e0 / nt)
                       * (nt - dt) / (nt - 1e0)
                  ELSE 0e0 END) AS var_sum
  FROM terms
)
SELECT (SELECT n_arm FROM arm_tot WHERE arm = 0) AS n_subjects_a,
       (SELECT n_arm FROM arm_tot WHERE arm = 1) AS n_subjects_b,
       s.n_event_times,
       round(s.o_minus_e, 4) AS o_minus_e,
       round(s.var_sum, 4) AS variance,
       round(s.o_minus_e * s.o_minus_e / s.var_sum, 4) AS chi2,
       CASE WHEN s.o_minus_e * s.o_minus_e / s.var_sum > 3.841e0
            THEN 1 ELSE 0 END AS significant
FROM sums s
""",
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the repurchase survival
    curves of the two deterministic arms — the hypothesis test that
    completes the survival ladder ([[stats_kaplan_meier]] draws the
    curves, [[stats_nelson_aalen]] the hazards, this says whether the
    arms DIFFER): at each event time, observed arm-1 deaths vs the
    hypergeometric expectation d_t*n1_t/n_t, with variance
    d_t(n1/n)(n0/n)(n-d)/(n-1), chi2(1) vs 3.841. The per-arm risk
    sets need the FULL event-time grid (an arm with no exits at t
    still sits at risk), so the time x arm grid materializes zero
    rows explicitly — the [[stats_cramers_v]] zero-cell discipline
    applied to survival.

    Scale: same per-user lead() window as KM; the grid and cumulative
    risk windows run over (event-times x 2) rows — day-cardinality,
    partitioned by arm."""
    from pyspark.sql import Window

    subjects = _repurchase_subjects(
        load_table(spark, sf_dir, "events"), arm=arm().cast("bigint")
    )
    arm_tot = subjects.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arm")
    )
    at_t = subjects.groupBy("arm", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(1 - F.col("censored")).cast("bigint").alias("d"),
    )
    times = at_t.select("t").distinct()
    arms = subjects.select("arm").distinct()
    grid = (
        times.crossJoin(arms)
        .join(at_t, ["t", "arm"], "left")
        .select(
            "t",
            "arm",
            F.coalesce(F.col("n_ending"), F.lit(0)).alias("n_ending"),
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
        )
    )
    wcum = (
        Window.partitionBy("arm")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = grid.join(F.broadcast(arm_tot), "arm").select(
        "t",
        "arm",
        "d",
        (
            F.col("n_arm")
            - F.coalesce(F.sum("n_ending").over(wcum), F.lit(0))
        ).alias("n_risk"),
    )
    wide = risk.groupBy("t").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n_risk")).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_risk")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("d")).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("arm") == 1, F.col("d")).otherwise(0)).alias("d1"),
    )
    nt = F.col("n0") + F.col("n1")
    dt = F.col("d0") + F.col("d1")
    terms = wide.filter((dt > 0) & (nt > 0))
    sums = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.sum(F.col("d1") - dt * F.col("n1") * 1.0 / nt).alias("o_minus_e"),
        F.sum(
            F.when(
                nt > 1,
                dt
                * (F.col("n1") * 1.0 / nt)
                * (F.col("n0") * 1.0 / nt)
                * (nt - dt)
                / (nt - 1.0),
            ).otherwise(0.0)
        ).alias("var_sum"),
    )
    arm_wide = arm_tot.groupBy().pivot("arm", [0, 1]).sum("n_arm")
    chi2 = F.col("o_minus_e") * F.col("o_minus_e") / F.col("var_sum")
    return sums.crossJoin(F.broadcast(arm_wide)).select(
        F.col("0").cast("bigint").alias("n_subjects_a"),
        F.col("1").cast("bigint").alias("n_subjects_b"),
        "n_event_times",
        F.round("o_minus_e", 4).alias("o_minus_e"),
        F.round("var_sum", 4).alias("variance"),
        F.round(chi2, 4).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_lorenz_deciles",
    tags=("stats",),
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT cents,
         ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM cust
), per_dec AS (
  SELECT CAST(decile AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM tiled GROUP BY decile
), tot AS (
  SELECT sum(cents) * 1e0 AS total FROM per_dec
)
SELECT p.decile, p.n_customers, p.cents,
       round(p.cents / t.total, 6) AS share,
       round(sum(p.cents) OVER (ORDER BY p.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t.total, 6)
         AS cum_share
FROM per_dec p CROSS JOIN tot t
""",
)
def stats_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution over per-customer revenue —
    the distribution TABLE behind [[stats_gini_concentration]]'s
    scalar (the scalar says "how unequal"; the deciles say "the top
    decile holds X%", which is what a capacity or fairness
    conversation actually quotes). Customers are decile-binned by
    ntile over (cents, custkey) — the id tie-break makes bin
    membership total and reproducible — and the cumulative share is
    non-decreasing and convex by construction (pinned in the property
    test).

    Scale: one custkey agg; deciles come from the two-phase banded
    row_number + exact ntile arithmetic (`ranks.two_phase_ordered` +
    `ntile_from_rn`, VERDICT r7 #4 — bit-identical to the one-task
    ntile for any bucket width); decile algebra is 10 rows."""
    from pyspark.sql import Window

    from .ranks import ntile_from_rn, two_phase_ordered

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(to_cents("o_totalprice"))
        .cast("bigint")
        .alias("cents")
    )
    n_tot = cust.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    tiled = (
        two_phase_ordered(
            cust,
            (F.col("cents") / 1000000).cast("bigint"),
            ["cents", "o_custkey"],
            rn="_rn",
        )
        .crossJoin(F.broadcast(n_tot))
        .select(
            "cents",
            ntile_from_rn(F.col("_rn"), F.col("_n"), 10).alias("decile"),
        )
    )
    per_dec = tiled.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    tot = per_dec.agg((F.sum("cents") * 1.0).alias("total"))
    wcum = Window.orderBy("decile").rowsBetween(  # frame: bounded (10 deciles)
        Window.unboundedPreceding, Window.currentRow
    )
    return per_dec.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        "cents",
        F.round(F.col("cents") / F.col("total"), 6).alias("share"),
        F.round(F.sum("cents").over(wcum) / F.col("total"), 6).alias("cum_share"),
    )


@register(
    "stats_dunn_posthoc",
    tags=("stats", "experiment"),
    oracle="""
WITH v AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 1e2) AS BIGINT) AS cents
  FROM orders
), ranked AS (
  SELECT grp, cents,
         rank() OVER (ORDER BY cents) AS rmin,
         count(*) OVER (PARTITION BY cents) AS nties
  FROM v
), avg_rank AS (
  SELECT grp, rmin + (nties - 1) / 2e0 AS r
  FROM ranked
), g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g, sum(r) / count(*) AS rbar
  FROM avg_rank GROUP BY grp
), tie_groups AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY cents HAVING count(*) > 1
), tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n FROM g
), corr AS (
  SELECT coalesce(sum(CAST(t AS DOUBLE) * t * t - t), 0e0) AS tie_term FROM tie_groups
), pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, a.n_g AS n_a, b.n_g AS n_b,
         a.rbar AS rbar_a, b.rbar AS rbar_b
  FROM g a JOIN g b ON a.grp < b.grp
)
SELECT p.grp_a, p.grp_b,
       CAST(p.n_a AS BIGINT) AS n_a,
       CAST(p.n_b AS BIGINT) AS n_b,
       round((p.rbar_a - p.rbar_b)
             / sqrt((t.n * (t.n + 1e0) / 12e0
                     - c.tie_term / (12e0 * (t.n - 1e0)))
                    * (1e0 / p.n_a + 1e0 / p.n_b)), 4) AS z_dunn,
       CASE WHEN abs((p.rbar_a - p.rbar_b)
             / sqrt((t.n * (t.n + 1e0) / 12e0
                     - c.tie_term / (12e0 * (t.n - 1e0)))
                    * (1e0 / p.n_a + 1e0 / p.n_b))) > 2.807e0
            THEN 1 ELSE 0 END AS significant
FROM pairs p CROSS JOIN tot t CROSS JOIN corr c
""",
)
def stats_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after
    [[stats_kruskal_wallis]] — KW says SOME priority group differs;
    Dunn says WHICH of the 10 pairs, using the same tie-averaged
    global ranks: z_ij = (Rbar_i - Rbar_j) / sqrt((N(N+1)/12 -
    T/(12(N-1))) * (1/n_i + 1/n_j)) with the tie correction
    T = sum(t^3 - t), cut at the Bonferroni-adjusted two-sided
    critical z for 10 comparisons at alpha=0.05 (2.807) — a fixed
    constant instead of an erf evaluation, so both engines compare
    identical doubles. Pair identity (grp_a < grp_b) makes each pair
    appear exactly once.

    Scale: the banded two-phase rank is shared with KW
    (`ranks.tie_rank2` over the value-grain histogram — no one-task
    sort, VERDICT r7 #4); everything after is a 5-row self-join
    producing 10 rows of algebra."""
    from .ranks import tie_rank2

    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        to_cents("o_totalprice").alias("cents"),
    )
    hist = v.groupBy("grp", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gc")
    )
    vals = hist.groupBy("cents").agg(F.sum("n_gc").cast("bigint").alias("t"))
    r2 = tie_rank2(
        vals, "cents", "t", (F.col("cents") / 100000).cast("bigint")
    ).select("cents", "rank2")
    g = (
        hist.join(r2, "cents")
        .groupBy("grp")
        .agg(
            F.sum("n_gc").cast("bigint").alias("n_g"),
            (
                F.sum(F.col("n_gc") * F.col("rank2")).cast("bigint")
                * 0.5
                / F.sum("n_gc").cast("bigint")
            ).alias("rbar"),
        )
    )
    tie_term = (
        v.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
                ),
                F.lit(0.0),
            ).alias("tie_term")
        )
    )
    tot = g.agg(F.sum("n_g").cast("bigint").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(b, F.col("a.grp") < F.col("b.grp")).select(
        F.col("a.grp").alias("grp_a"),
        F.col("b.grp").alias("grp_b"),
        F.col("a.n_g").alias("n_a"),
        F.col("b.n_g").alias("n_b"),
        F.col("a.rbar").alias("rbar_a"),
        F.col("b.rbar").alias("rbar_b"),
    )
    z = (F.col("rbar_a") - F.col("rbar_b")) / F.sqrt(
        (
            F.col("n") * (F.col("n") + 1.0) / 12.0
            - F.col("tie_term") / (12.0 * (F.col("n") - 1.0))
        )
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tie_term))
        .select(
            "grp_a",
            "grp_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(z, 4).alias("z_dunn"),
            F.when(F.abs(z) > 2.807, 1).otherwise(0).alias("significant"),
        )
    )


@register(
    "stats_mcnemar_test",
    tags=("stats", "eval"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS rater_a,
         CASE WHEN len({WORDS_SQL}) > 90
              THEN 1 ELSE 0 END AS rater_b
  FROM documents
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE rater_a = 1 AND rater_b = 0) AS BIGINT) AS b,
         CAST(count(*) FILTER (WHERE rater_a = 0 AND rater_b = 1) AS BIGINT) AS c
  FROM scored
)
SELECT n, b AS only_a, c AS only_b,
       CASE WHEN b + c > 0
            THEN round((abs(b - c) - 1e0) * (abs(b - c) - 1e0) / (b + c), 4)
            ELSE 0e0 END AS chi2_cc,
       CASE WHEN b + c > 0
             AND (abs(b - c) - 1e0) * (abs(b - c) - 1e0) / (b + c) > 3.841e0
            THEN 1 ELSE 0 END AS significant
FROM cells
""",
)
def stats_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on the SAME two document "raters" as
    [[stats_cohens_kappa]] (char-length vs token-count quality gates):
    kappa asks "do they agree"; McNemar asks the different question
    "when they DISAGREE, is it one-sided?" — marginal homogeneity from
    only the discordant cells, chi2 = (|b-c|-1)^2/(b+c) with Yates'
    continuity correction vs 3.841. The b+c=0 (perfect agreement)
    case emits an explicit 0.0/not-significant (the degenerate-guard
    class). Sharing the rater definitions verbatim makes the pair of
    queries a complete two-classifier comparison sheet.

    Scale: one in-scan classification + one 3-number agg. Nothing
    else."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    scored = docs.select(
        F.when(F.col("n_chars") > 500, 1).otherwise(0).alias("rater_a"),
        F.when(F.size(toks) > 90, 1).otherwise(0).alias("rater_b"),
    )
    cells = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when((F.col("rater_a") == 1) & (F.col("rater_b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("rater_a") == 0) & (F.col("rater_b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    bc = F.col("b") + F.col("c")
    chi2 = (F.abs(F.col("b") - F.col("c")) - 1.0) * (
        F.abs(F.col("b") - F.col("c")) - 1.0
    ) / bc
    return cells.select(
        "n",
        F.col("b").alias("only_a"),
        F.col("c").alias("only_b"),
        F.when(bc > 0, F.round(chi2, 4)).otherwise(0.0).alias("chi2_cc"),
        F.when((bc > 0) & (chi2 > 3.841), 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_friedman_test",
    tags=("stats", "experiment"),
    oracle="""
WITH cells AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS block,
         o_orderpriority AS trt,
         CAST(sum(CAST(round(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), grid AS (
  SELECT b.block, t.trt, coalesce(c.cents, 0) AS cents
  FROM (SELECT DISTINCT block FROM cells) b
  CROSS JOIN (SELECT DISTINCT trt FROM cells) t
  LEFT JOIN cells c ON c.block = b.block AND c.trt = t.trt
), ranked AS (
  SELECT block, trt,
         rank() OVER (PARTITION BY block ORDER BY cents)
           + (count(*) OVER (PARTITION BY block, cents) - 1) / 2e0 AS r
  FROM grid
), rsums AS (
  SELECT trt, sum(r) AS r_j, CAST(count(*) AS BIGINT) AS b
  FROM ranked GROUP BY trt
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, max(b) AS b,
         sum(r_j * r_j) AS sr2
  FROM rsums
)
SELECT k AS n_treatments, b AS n_blocks,
       round(12e0 / (b * k * (k + 1e0)) * sr2 - 3e0 * b * (k + 1e0), 4)
         AS friedman_chi2,
       CASE WHEN 12e0 / (b * k * (k + 1e0)) * sr2 - 3e0 * b * (k + 1e0)
                 > 9.488e0 THEN 1 ELSE 0 END AS significant
FROM tot
""",
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's within-block rank test: do the five order priorities
    differ in monthly revenue once every MONTH serves as its own
    block? — the repeated-measures complement to
    [[stats_kruskal_wallis]] (KW pools all rows into one global
    ranking, so a strong month effect inflates its variance; Friedman
    ranks WITHIN each month and sums ranks per treatment, chi2_F =
    12/(bk(k+1)) * sum R_j^2 - 3b(k+1) vs chi-square(4) 9.488).
    Missing (month, priority) cells materialize as zero revenue via
    the distinct-levels grid so every block ranks exactly k
    treatments; within-block ties take average ranks — the
    [[stats_kruskal_wallis]] tie discipline, per block.

    Scale: facts collapse to month x priority cells in one agg; the
    ranking window partitions by block (5 rows each); the test is
    5-row algebra. No global sort at all — Friedman is the CHEAPER
    test at scale, one more reason it completes the ladder."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("block"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(to_cents("o_totalprice"))
        .cast("bigint")
        .alias("cents")
    )
    blocks = cells.select("block").distinct()
    trts = cells.select("trt").distinct()
    grid = (
        blocks.crossJoin(trts)
        .join(cells, ["block", "trt"], "left")
        .select(
            "block", "trt", F.coalesce(F.col("cents"), F.lit(0)).alias("cents")
        )
    )
    ranked = grid.select(
        "block",
        "trt",
        (
            F.rank().over(Window.partitionBy("block").orderBy("cents"))
            + (
                F.count(F.lit(1)).over(Window.partitionBy("block", "cents"))
                - 1
            )
            / 2.0
        ).alias("r"),
    )
    rsums = ranked.groupBy("trt").agg(
        F.sum("r").alias("r_j"), F.count(F.lit(1)).cast("bigint").alias("b")
    )
    tot = rsums.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("b").alias("b"),
        F.sum(F.col("r_j") * F.col("r_j")).alias("sr2"),
    )
    k, b = F.col("k"), F.col("b")
    chi2 = 12.0 / (b * k * (k + 1.0)) * F.col("sr2") - 3.0 * b * (k + 1.0)
    return tot.select(
        k.alias("n_treatments"),
        b.alias("n_blocks"),
        F.round(chi2, 4).alias("friedman_chi2"),
        F.when(chi2 > 9.488, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_granger_causality",
    tags=("stats", "temporal"),
    oracle="""
WITH seg AS (
  SELECT CAST(o.o_orderdate AS DATE) AS d,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_b,
         CAST(round(o.o_totalprice) AS BIGINT) AS dollars
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), days AS (
  SELECT DISTINCT d FROM seg
), daily AS (
  SELECT days.d,
         coalesce(sum(CASE WHEN s.is_b = 1 THEN s.dollars END), 0) AS xb,
         coalesce(sum(CASE WHEN s.is_b = 0 THEN s.dollars END), 0) AS yo
  FROM days LEFT JOIN seg s ON s.d = days.d
  GROUP BY days.d
), lagged AS (
  SELECT yo * 1e0 AS y,
         lag(yo) OVER (ORDER BY d) * 1e0 AS x1,
         lag(xb) OVER (ORDER BY d) * 1e0 AS x2
  FROM daily
), rows_ok AS (
  SELECT y, x1, x2 FROM lagged WHERE x1 IS NOT NULL AND x2 IS NOT NULL
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
         sum(x1 * x1) AS s11, sum(x2 * x2) AS s22, sum(x1 * x2) AS s12,
         sum(x1 * y) AS s1y, sum(x2 * y) AS s2y, sum(y * y) AS syy
  FROM rows_ok
), c AS (
  SELECT n,
         s11 - s1 * s1 / n AS c11,
         s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12,
         s1y - s1 * sy / n AS c1y,
         s2y - s2 * sy / n AS c2y,
         syy - sy * sy / n AS cyy
  FROM m
), f AS (
  SELECT n,
         cyy - ((c22 * c1y - c12 * c2y) * c1y + (c11 * c2y - c12 * c1y) * c2y)
               / (c11 * c22 - c12 * c12) AS rss_u,
         cyy - c1y * c1y / c11 AS rss_r
  FROM c
  WHERE c11 * c22 - c12 * c12 > 0 AND c11 > 0
)
SELECT f.n AS n_obs,
       round(1e0 - rss_r / c.cyy, 6) AS r2_restricted,
       round(1e0 - rss_u / c.cyy, 6) AS r2_unrestricted,
       CASE WHEN rss_u > 0e0
            THEN round((rss_r - rss_u) / (rss_u / (f.n - 3e0)), 4)
            ELSE 0e0 END AS f_stat,
       CASE WHEN rss_u > 0e0
             AND (rss_r - rss_u) / (rss_u / (f.n - 3e0)) > 3.841e0
            THEN 1 ELSE 0 END AS granger_causal
FROM f JOIN c ON c.n = f.n
WHERE c.cyy > 0e0
""",
)
def stats_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (one lag): does YESTERDAY's BUILDING-segment
    revenue help predict TODAY's rest-of-market revenue beyond the
    market's own lag? Unrestricted OLS y_t ~ y_{t-1} + x_{t-1} vs
    restricted y_t ~ y_{t-1}, F = (RSS_r - RSS_u)/(RSS_u/(n-3)) vs
    F(1,inf) 3.841 — the lead/lag screen run before believing any
    cross-series story ([[stats_autocorrelation]] reads one series'
    memory; this reads ACROSS series, with the standard caveat that
    Granger is predictive, not causal). Both RSS values come from the
    SAME closed-form normal-equation projection as
    [[stats_ols_two_feature]] (co-moments of one pass; the restricted
    fit reuses the same moments — no second regression pass), with
    singular-det guards. Outputs are SCALE-FREE (R^2 and F) — raw RSS
    at day-revenue-squared magnitude would put float-reduction ulps
    above the 4dp rounding grain, the one place absolute rounding
    can't absorb summation-order noise.

    Scale: one custkey join, one day-cardinality agg, one lag window
    over the daily series, one moment agg. Adding lags = adding
    moment columns, not passes."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = o.join(c, c.c_custkey == o.o_custkey).select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("is_b"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("dollars"),
    )
    daily = seg.groupBy("d").agg(
        F.coalesce(
            F.sum(F.when(F.col("is_b") == 1, F.col("dollars"))), F.lit(0)
        ).alias("xb"),
        F.coalesce(
            F.sum(F.when(F.col("is_b") == 0, F.col("dollars"))), F.lit(0)
        ).alias("yo"),
    )
    # unpartitioned window is safe: the frame is the DAILY series
    w = Window.orderBy("d")  # frame: bounded (day-grain)
    lagged = daily.select(
        (F.col("yo") * 1.0).alias("y"),
        (F.lag("yo").over(w) * 1.0).alias("x1"),
        (F.lag("xb").over(w) * 1.0).alias("x2"),
    ).filter(F.col("x1").isNotNull() & F.col("x2").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    rss_u = cyy - ((c22 * c1y - c12 * c2y) * c1y + (c11 * c2y - c12 * c1y) * c2y) / det
    rss_r = cyy - c1y * c1y / c11
    fstat = (rss_r - rss_u) / (rss_u / (n - 3.0))
    return (
        m.filter((det > 0) & (c11 > 0) & (cyy > 0))
        .select(
            n.alias("n_obs"),
            F.round(1.0 - rss_r / cyy, 6).alias("r2_restricted"),
            F.round(1.0 - rss_u / cyy, 6).alias("r2_unrestricted"),
            F.when(rss_u > 0.0, F.round(fstat, 4)).otherwise(0.0).alias("f_stat"),
            F.when((rss_u > 0.0) & (fstat > 3.841), 1)
            .otherwise(0)
            .alias("granger_causal"),
        )
    )


@register(
    "stats_cochran_armitage",
    tags=("stats", "experiment"),
    oracle=f"""
WITH u AS (
  SELECT user_id, CAST(user_id % 4 AS BIGINT) AS dose,
         {CONVERTED_SQL}
           AS conv
  FROM events GROUP BY user_id
), g AS (
  SELECT dose, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(conv) AS BIGINT) AS a_i
  FROM u GROUP BY dose
), tot AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(sum(a_i) AS BIGINT) AS a,
         sum(n_i * dose) * 1e0 AS snt,
         sum(n_i * dose * dose) * 1e0 AS snt2
  FROM g
), t AS (
  SELECT sum(g.dose * (g.a_i - g.n_i * t.a * 1e0 / t.n)) AS t_stat,
         max(t.a * 1e0 / t.n) AS pbar,
         max(t.snt2 - t.snt * t.snt / t.n) AS s_tt
  FROM g CROSS JOIN tot t
)
SELECT (SELECT n FROM tot) AS n_users,
       (SELECT a FROM tot) AS n_converters,
       round(t_stat, 4) AS trend_stat,
       CASE WHEN pbar > 0e0 AND pbar < 1e0 AND s_tt > 0e0
            THEN round(t_stat * t_stat / (pbar * (1e0 - pbar) * s_tt), 4)
            ELSE 0e0 END AS chi2_trend,
       CASE WHEN pbar > 0e0 AND pbar < 1e0 AND s_tt > 0e0
             AND t_stat * t_stat / (pbar * (1e0 - pbar) * s_tt) > 3.841e0
            THEN 1 ELSE 0 END AS significant
FROM t
""",
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does conversion rate move
    MONOTONICALLY across an ordered exposure (four deterministic dose
    levels)? — the dose-response question [[stats_chi_square]] cannot
    ask (chi-square treats levels as unordered and burns power on
    non-monotone patterns; CA spends its single degree of freedom on
    the linear trend): T = sum t_i (a_i - n_i*pbar),
    chi2 = T^2 / (pbar(1-pbar) S_tt) vs 3.841. Degenerate pools
    (all/none converted, or a single dose level) emit explicit 0.0 —
    the [[stats_mantel_haenszel]] guard class.

    Scale: one per-user agg (the only data-sized exchange), then
    4-row algebra from exact integer dose moments."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("conv")).select(
        (F.col("user_id") % 4).cast("bigint").alias("dose"), "conv"
    )
    g = u.groupBy("dose").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("conv").cast("bigint").alias("a_i"),
    )
    tot = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("a_i").cast("bigint").alias("a"),
        (F.sum(F.col("n_i") * F.col("dose")) * 1.0).alias("snt"),
        (F.sum(F.col("n_i") * F.col("dose") * F.col("dose")) * 1.0).alias("snt2"),
    )
    t = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("dose") * (F.col("a_i") - F.col("n_i") * F.col("a") * 1.0 / F.col("n"))
        ).alias("t_stat"),
        F.max(F.col("a") * 1.0 / F.col("n")).alias("pbar"),
        F.max(F.col("snt2") - F.col("snt") * F.col("snt") / F.col("n")).alias("s_tt"),
        F.max("n").alias("n_users"),
        F.max("a").alias("n_converters"),
    )
    ok = (F.col("pbar") > 0.0) & (F.col("pbar") < 1.0) & (F.col("s_tt") > 0.0)
    chi2 = F.col("t_stat") * F.col("t_stat") / (
        F.col("pbar") * (1.0 - F.col("pbar")) * F.col("s_tt")
    )
    return t.select(
        F.col("n_users"),
        F.col("n_converters"),
        F.round("t_stat", 4).alias("trend_stat"),
        F.when(ok, F.round(chi2, 4)).otherwise(0.0).alias("chi2_trend"),
        F.when(ok & (chi2 > 3.841), 1).otherwise(0).alias("significant"),
    )


@register(
    "events_littles_law_audit",
    tags=("stats", "events", "temporal"),
    oracle="""
WITH iv AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
         min(ts) AS s, max(ts) AS e
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT day,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(epoch_us(e) - epoch_us(s)) AS BIGINT) AS presence_us,
         CAST(epoch_us(max(e)) - epoch_us(min(s)) AS BIGINT) AS window_us
  FROM iv GROUP BY day
)
SELECT day, n_users,
       round(presence_us * 1e0 / window_us, 6) AS avg_concurrency,
       round(n_users * 3.6e9 / window_us, 4) AS arrivals_per_hour,
       round(presence_us * 1e0 / n_users / 1e6, 4) AS avg_presence_s,
       round(presence_us * 1e0 / window_us
             - (n_users * 1e0 / window_us)
               * (presence_us * 1e0 / n_users), 6) + 0e0 AS little_residual
FROM spans
WHERE window_us > 0
""",
)
def events_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law conservation audit per day: time-averaged
    concurrency L (total user-presence microseconds over the observed
    window — the INTEGRAL [[events_peak_concurrency]]'s sweep only
    maximizes), arrival rate lambda (users/hour), mean presence W —
    and the residual L - lambda*W, which must be EXACTLY zero when all
    three are measured over the same window (the identity is
    algebraic; a nonzero residual in a real telemetry pipeline means
    the three metrics silently use different windows/filters — the
    exact bug this audit exists to catch; the property test pins 0).
    Zero-width windows (a day whose events share one timestamp) are
    excluded explicitly rather than divided by.

    Scale: one (day, user) agg then a day-cardinality reduction —
    the integral needs NO sweep because sum-of-durations equals the
    concurrency integral by Fubini."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    us = lambda c: F.unix_micros(F.col(c))  # noqa: E731
    spans = iv.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(us("e") - us("s")).cast("bigint").alias("presence_us"),
        (F.max(us("e")) - F.min(us("s"))).cast("bigint").alias("window_us"),
    )
    L = F.col("presence_us") * 1.0 / F.col("window_us")
    lam = F.col("n_users") * 1.0 / F.col("window_us")
    w = F.col("presence_us") * 1.0 / F.col("n_users")
    return spans.filter(F.col("window_us") > 0).select(
        "day",
        "n_users",
        F.round(L, 6).alias("avg_concurrency"),
        F.round(F.col("n_users") * 3.6e9 / F.col("window_us"), 4).alias(
            "arrivals_per_hour"
        ),
        F.round(F.col("presence_us") * 1.0 / F.col("n_users") / 1e6, 4).alias(
            "avg_presence_s"
        ),
        # + 0.0 normalizes IEEE negative zero (DuckDB renders -0.0,
        # Spark 0.0 — a pure canonicalization hazard, not a value one)
        (F.round(L - lam * w, 6) + F.lit(0.0)).alias("little_residual"),
    )


@register(
    "stats_simpsons_reversal",
    tags=("stats", "quality"),
    oracle="""
WITH li AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_discount * 1e2) AS BIGINT) AS disc_pct,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), overall AS (
  SELECT regr_slope(qty, disc_pct) AS slope_all,
         CAST(count(*) AS BIGINT) AS n_all
  FROM li
), per_g AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n_g,
         regr_slope(qty, disc_pct) AS slope_g
  FROM li GROUP BY flag
)
SELECT g.flag, g.n_g,
       round(g.slope_g, 6) AS slope_group,
       round(o.slope_all, 6) AS slope_overall,
       CASE WHEN g.slope_g * o.slope_all < 0e0 THEN 1 ELSE 0 END AS reversed
FROM per_g g CROSS JOIN overall o
""",
)
def stats_simpsons_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: the discount->quantity regression slope
    computed ONCE over all line items and ONCE within each return-flag
    stratum, with a reversal flag where the within-group sign
    contradicts the pooled sign — the aggregation trap every
    segmented-metrics dashboard needs screened
    ([[stats_mantel_haenszel]] ADJUSTS for a known confounder; this
    DETECTS that a confounder is flipping the story). regr_slope is
    the identical two-moment formula on both engines over exact
    integer percents/quantities; 6dp rounding far above ulp drift.

    Scale: two single-pass co-moment aggs (one global row, one per
    stratum) joined at stratum cardinality. Adding strata dimensions
    is adding group-by keys, not passes."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_discount") * 100.0).cast("bigint").alias("disc_pct"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    overall = li.agg(
        F.regr_slope("qty", "disc_pct").alias("slope_all"),
    )
    per_g = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.regr_slope("qty", "disc_pct").alias("slope_g"),
    )
    return per_g.crossJoin(F.broadcast(overall)).select(
        "flag",
        "n_g",
        F.round("slope_g", 6).alias("slope_group"),
        F.round("slope_all", 6).alias("slope_overall"),
        F.when(F.col("slope_g") * F.col("slope_all") < 0.0, 1)
        .otherwise(0)
        .alias("reversed"),
    )


@register(
    "stats_kendall_tau",
    tags=("stats", "temporal"),
    oracle=f"""
WITH daily AS (
  -- exact cents + integer half-up to dollars (sf1-gate fix class, see
  -- temporal_holt_smoothing): round(sum(double)) ties on .5 midpoints
  {orders_1996_by_day_sql(
      "CAST(count(*) AS BIGINT) AS x", f'{sum_dollars_half_up_sql("o_totalprice")} AS y'
  )}
), pairs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
         CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tied_x,
         CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS tied_y
  FROM daily a JOIN daily b ON a.d < b.d
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
)
SELECT n.n_days, p.concordant, p.discordant, p.tied_x, p.tied_y,
       round((p.concordant - p.discordant) * 1e0
             / sqrt((p.n_pairs - p.tied_x) * 1e0 * (p.n_pairs - p.tied_y)), 6) AS tau_b,
       round((p.concordant - p.discordant) * 1e0
             / sqrt(n.n_days * (n.n_days - 1e0) * (2e0 * n.n_days + 5e0) / 18e0), 4) AS z_stat,
       CASE WHEN abs((p.concordant - p.discordant) * 1e0
             / sqrt(n.n_days * (n.n_days - 1e0) * (2e0 * n.n_days + 5e0) / 18e0)) > 1.96e0
            THEN 1 ELSE 0 END AS significant
FROM pairs p CROSS JOIN n
""",
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily order COUNT and
    daily revenue over one calendar year (1996) — the robust monotone-
    association twin to [[stats_spearman_corr]] that is also exactly
    computable from pair counts: concordant/discordant/tied pair
    tallies are INTEGERS, so both engines agree bit-for-bit until the
    single final sqrt (tau-b tie correction in the denominator, the
    normal z approximation var S = n(n-1)(2n+5)/18 for the gate).

    Scale: the O(n^2) pair comparison is bounded BY CONSTRUCTION to the
    year's day grain (<=366 rows -> <=67k pairs) after an
    order-cardinality day agg; the day frame broadcasts, so the pair
    join is one map-side stage and the tally is one 5-counter reduce.
    At any SF the day grain is capped, so the pair cost never grows
    with raw rows."""
    daily = orders_1996_by_day(
        spark,
        sf_dir,
        F.count(F.lit(1)).cast("bigint").alias("x"),
        sum_dollars_half_up("o_totalprice").cast("bigint").alias("y"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    prod = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint").alias("concordant"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint").alias("discordant"),
        F.sum(F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0))
        .cast("bigint")
        .alias("tied_x"),
        F.sum(F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0))
        .cast("bigint")
        .alias("tied_y"),
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    s = (F.col("concordant") - F.col("discordant")).cast("double")
    z = s / F.sqrt(
        F.col("n_days")
        * (F.col("n_days") - F.lit(1.0))
        * (2.0 * F.col("n_days") + F.lit(5.0))
        / F.lit(18.0)
    )
    return pairs.crossJoin(F.broadcast(n)).select(
        "n_days",
        "concordant",
        "discordant",
        "tied_x",
        "tied_y",
        F.round(
            s
            / F.sqrt(
                (F.col("n_pairs") - F.col("tied_x")).cast("double")
                * (F.col("n_pairs") - F.col("tied_y"))
            ),
            6,
        ).alias("tau_b"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_partial_correlation",
    tags=("stats",),
    oracle="""
WITH c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         corr(l_quantity, l_extendedprice) AS rxy,
         corr(l_quantity, l_discount) AS rxz,
         corr(l_extendedprice, l_discount) AS ryz
  FROM lineitem
), p AS (
  SELECT n_rows, rxy, rxz, ryz,
         (rxy - rxz * ryz) / sqrt((1e0 - rxz * rxz) * (1e0 - ryz * ryz)) AS pr
  FROM c
  WHERE abs(rxz) < 1e0 AND abs(ryz) < 1e0
)
SELECT n_rows,
       round(rxy, 4) AS r_xy,
       round(rxz, 4) AS r_xz,
       round(ryz, 4) AS r_yz,
       round(pr, 4) AS partial_r_xy_z,
       round(pr * sqrt((n_rows - 3e0) / (1e0 - pr * pr)), 4) AS t_stat,
       CASE WHEN abs(pr * sqrt((n_rows - 3e0) / (1e0 - pr * pr))) > 1.96e0
            THEN 1 ELSE 0 END AS significant
FROM p
""",
)
def stats_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of quantity and extended price
    CONTROLLING for discount: r_xy.z = (r_xy - r_xz r_yz) /
    sqrt((1-r_xz^2)(1-r_yz^2)) — the confounder-removal arithmetic that
    answers whether a raw pairwise association in
    [[stats_correlation_matrix]] survives holding a third variable
    fixed ([[stats_simpsons_reversal]] detects the flip at stratum
    grain; this removes it at moment grain), plus the t approximation
    r sqrt((n-3)/(1-r^2)) for the gate. Corrs ride unrounded into the
    formula; every OUTPUT is rounded at the 4dp co-moment posture.

    Scale: all three correlations ride one partial-aggregation tree —
    one scan, one 1-row reduce; controlling for more variables is a
    bigger inverse on the same one-pass moment matrix, not more
    passes."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.corr("l_quantity", "l_extendedprice").alias("rxy"),
        F.corr("l_quantity", "l_discount").alias("rxz"),
        F.corr("l_extendedprice", "l_discount").alias("ryz"),
    ).filter((F.abs(F.col("rxz")) < 1.0) & (F.abs(F.col("ryz")) < 1.0))
    pr = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(
        (1.0 - F.col("rxz") * F.col("rxz")) * (1.0 - F.col("ryz") * F.col("ryz"))
    )
    t = pr * F.sqrt((F.col("n_rows") - F.lit(3.0)) / (1.0 - pr * pr))
    return c.select(
        "n_rows",
        F.round("rxy", 4).alias("r_xy"),
        F.round("rxz", 4).alias("r_xz"),
        F.round("ryz", 4).alias("r_yz"),
        F.round(pr, 4).alias("partial_r_xy_z"),
        F.round(t, 4).alias("t_stat"),
        F.when(F.abs(t) > 1.96, 1).otherwise(0).alias("significant"),
    )


@register(
    "stats_chow_test",
    tags=("stats", "temporal"),
    oracle=f"""
WITH daily AS (
  -- exact cents + integer half-up to dollars (sf1-gate fix class)
  SELECT CAST(o_orderdate AS DATE) AS d,
         {sum_dollars_half_up_sql("o_totalprice")} AS y
  FROM orders GROUP BY 1
), idx AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS x, y,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily
), seg AS (
  SELECT CASE WHEN x <= n / 2 THEN 0 ELSE 1 END AS s, x, y, n FROM idx
), m AS (
  SELECT max(n) AS n,
         CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         sum(CASE WHEN s = 0 THEN x END) * 1e0 AS sx1,
         sum(CASE WHEN s = 0 THEN y END) * 1e0 AS sy1,
         sum(CASE WHEN s = 0 THEN x * x END) * 1e0 AS sxx1,
         sum(CASE WHEN s = 0 THEN x * y END) * 1e0 AS sxy1,
         sum(CASE WHEN s = 0 THEN y * y END) * 1e0 AS syy1,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         sum(CASE WHEN s = 1 THEN x END) * 1e0 AS sx2,
         sum(CASE WHEN s = 1 THEN y END) * 1e0 AS sy2,
         sum(CASE WHEN s = 1 THEN x * x END) * 1e0 AS sxx2,
         sum(CASE WHEN s = 1 THEN x * y END) * 1e0 AS sxy2,
         sum(CASE WHEN s = 1 THEN y * y END) * 1e0 AS syy2
  FROM seg
), r AS (
  SELECT n, n1, n2,
         (syy1 - sy1 * sy1 / n1) - (sxy1 - sx1 * sy1 / n1) * (sxy1 - sx1 * sy1 / n1)
           / (sxx1 - sx1 * sx1 / n1) AS rss1,
         (syy2 - sy2 * sy2 / n2) - (sxy2 - sx2 * sy2 / n2) * (sxy2 - sx2 * sy2 / n2)
           / (sxx2 - sx2 * sx2 / n2) AS rss2,
         ((syy1 + syy2) - (sy1 + sy2) * (sy1 + sy2) / n)
           - ((sxy1 + sxy2) - (sx1 + sx2) * (sy1 + sy2) / n)
             * ((sxy1 + sxy2) - (sx1 + sx2) * (sy1 + sy2) / n)
             / ((sxx1 + sxx2) - (sx1 + sx2) * (sx1 + sx2) / n) AS rssp,
         (syy1 + syy2) - (sy1 + sy2) * (sy1 + sy2) / n AS cyy
  FROM m
  WHERE n1 > 2 AND n2 > 2
    AND sxx1 - sx1 * sx1 / n1 > 0e0 AND sxx2 - sx2 * sx2 / n2 > 0e0
)
SELECT n AS n_days, n1 AS n_pre, n2 AS n_post,
       round((rssp - rss1 - rss2) / 2e0 / ((rss1 + rss2) / (n - 4e0)), 4) AS f_stat,
       round(1e0 - rssp / cyy, 6) AS r2_pooled,
       CASE WHEN (rssp - rss1 - rss2) / 2e0 / ((rss1 + rss2) / (n - 4e0)) > 2.996e0
            THEN 1 ELSE 0 END AS structural_break
FROM r
WHERE rss1 + rss2 > 0e0 AND cyy > 0e0
""",
)
def stats_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test on the daily-revenue trend: fit
    revenue ~ day_index over the full series and separately over each
    half, F = ((RSS_pooled - RSS_1 - RSS_2)/k) / ((RSS_1+RSS_2)/(n-2k))
    with k=2 vs F(2,inf) 2.996 — the regime-shift question
    [[stats_pettitt_changepoint]] asks about the LEVEL, posed about the
    SLOPE ([[stats_granger_causality]]'s nested-F machinery, re-aimed
    at a known candidate break date). Day revenue is exact integer
    dollars and the day index exact row_number, so every moment sum is
    bit-identical across engines; only the final scale-free F and R^2
    see float division, rounded 4/6dp.

    Scale: one day-cardinality agg, one window for the index, then a
    single 13-accumulator conditional reduce — BOTH segment fits and
    the pooled fit come out of the same pass (pooled moments are the
    SUM of segment moments, never a second scan)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        sum_dollars_half_up("o_totalprice").cast("bigint").alias("y")
    )
    w = Window.orderBy("d")  # frame: bounded (day-grain)
    idx = daily.select(
        F.row_number().over(w).cast("bigint").alias("x"),
        "y",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    seg = idx.select(
        F.when(F.col("x") <= F.col("n") / 2, 0).otherwise(1).alias("s"), "x", "y", "n"
    )

    def _m(scond, expr, name):
        # decimal(38,0) BEFORE the sum: a bigint accumulator overflows on
        # sum(y*y) once daily revenue scales (caught by the sf1 isolated
        # bench — ANSI mode aborts the whole query); casting one operand
        # keeps the product and the sum exact at any SF, mirroring the
        # oracle's automatic HUGEINT promotion.
        return F.sum(F.when(scond, expr)).cast("double").alias(name)

    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    s0, s1 = F.col("s") == 0, F.col("s") == 1
    m = seg.agg(
        F.max("n").alias("n"),
        F.sum(F.when(s0, 1).otherwise(0)).cast("bigint").alias("n1"),
        _m(s0, dx, "sx1"),
        _m(s0, dy, "sy1"),
        _m(s0, dx * F.col("x"), "sxx1"),
        _m(s0, dx * F.col("y"), "sxy1"),
        _m(s0, dy * F.col("y"), "syy1"),
        F.sum(F.when(s1, 1).otherwise(0)).cast("bigint").alias("n2"),
        _m(s1, dx, "sx2"),
        _m(s1, dy, "sy2"),
        _m(s1, dx * F.col("x"), "sxx2"),
        _m(s1, dx * F.col("y"), "sxy2"),
        _m(s1, dy * F.col("y"), "syy2"),
    )

    def rss(syy, sy, sxy, sx, sxx, nn):
        cyy = F.col(syy) - F.col(sy) * F.col(sy) / F.col(nn)
        cxy = F.col(sxy) - F.col(sx) * F.col(sy) / F.col(nn)
        cxx = F.col(sxx) - F.col(sx) * F.col(sx) / F.col(nn)
        return cyy - cxy * cxy / cxx

    rss1 = rss("syy1", "sy1", "sxy1", "sx1", "sxx1", "n1")
    rss2 = rss("syy2", "sy2", "sxy2", "sx2", "sxx2", "n2")
    syyp = F.col("syy1") + F.col("syy2")
    syp = F.col("sy1") + F.col("sy2")
    sxyp = F.col("sxy1") + F.col("sxy2")
    sxp = F.col("sx1") + F.col("sx2")
    sxxp = F.col("sxx1") + F.col("sxx2")
    cyyp = syyp - syp * syp / F.col("n")
    cxyp = sxyp - sxp * syp / F.col("n")
    cxxp = sxxp - sxp * sxp / F.col("n")
    rssp = cyyp - cxyp * cxyp / cxxp
    r = m.filter(
        (F.col("n1") > 2)
        & (F.col("n2") > 2)
        & (F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1") > 0.0)
        & (F.col("sxx2") - F.col("sx2") * F.col("sx2") / F.col("n2") > 0.0)
    ).select(
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_pre"),
        F.col("n2").alias("n_post"),
        rss1.alias("rss1"),
        rss2.alias("rss2"),
        rssp.alias("rssp"),
        cyyp.alias("cyy"),
    )
    f = (F.col("rssp") - F.col("rss1") - F.col("rss2")) / F.lit(2.0) / (
        (F.col("rss1") + F.col("rss2")) / (F.col("n_days") - F.lit(4.0))
    )
    return r.filter((F.col("rss1") + F.col("rss2") > 0.0) & (F.col("cyy") > 0.0)).select(
        "n_days",
        "n_pre",
        "n_post",
        F.round(f, 4).alias("f_stat"),
        F.round(1.0 - F.col("rssp") / F.col("cyy"), 6).alias("r2_pooled"),
        F.when(f > 2.996, 1).otherwise(0).alias("structural_break"),
    )


@register(
    "eval_auc_roc",
    tags=("stats", "eval", "ml"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {CONVERTED_SQL}
           AS y
  FROM events GROUP BY user_id
), scored AS (
  SELECT 'informed' AS model, y,
         least(9.5e-1, greatest(5e-2,
           1.5e-1 + 5.5e-1 * y
                + 2.5e-1 * ({md5_int_sql("'auc-' || user_id", 2)} % 256) / 255e0)) AS p_hat
  FROM u
  UNION ALL
  SELECT 'random' AS model, y,
         ({md5_int_sql("'rnd-' || user_id", 2)} % 256)
           / 255e0 AS p_hat
  FROM u
), ranked AS (
  SELECT model, y,
         rank() OVER (PARTITION BY model ORDER BY p_hat ASC) AS r_min,
         count(*) OVER (PARTITION BY model, p_hat) AS n_tied
  FROM scored
), agg AS (
  SELECT model,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
         sum(CASE WHEN y = 1
                  THEN r_min + (n_tied - 1) / 2e0 ELSE 0e0 END) AS r_pos_sum
  FROM ranked GROUP BY model
)
SELECT model, n_pos, n_neg,
       round(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 5e-1
             ELSE (r_pos_sum - n_pos * (n_pos + 1e0) / 2e0)
                  / (n_pos * 1e0 * n_neg) END, 6) AS auc,
       round(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0e0
             ELSE 2e0 * ((r_pos_sum - n_pos * (n_pos + 1e0) / 2e0)
                  / (n_pos * 1e0 * n_neg)) - 1e0 END, 6) AS gini
FROM agg
""",
)
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC via the tie-corrected Mann-Whitney rank identity, computed
    side-by-side for an informed scorer and a label-blind random scorer —
    the model-comparison twin to [[eval_calibration_brier]] (same
    per-user outcome and md5 pseudo-model; AUC measures RANKING quality
    where Brier measures calibration, and the random arm pins the 0.5
    null the informed arm must clear). AUC = (R+ - n+(n+ + 1)/2) /
    (n+ n-) with average ranks for ties, so every input to the final
    division is an exact integer or half-integer — engines agree to the
    last bit before the single rounded divide. Gini = 2*AUC - 1 rides
    along. Degenerate one-class slices emit the defined 0.5/0.0 rather
    than NULL (the ADVICE-r4 missing-arm class, guarded up front).

    Scale: one per-user hash agg (data-scale), then a 2x|users| frame
    ranked inside 2 window partitions — at 100 TB the rank is a sort per
    model partition, no cross-model shuffle coupling, and nothing wider
    than (model, p_hat, y) flows. Reference discipline: differential
    oracle per /root/reference/test/mr.test.js:78-96."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("y"))
    uid = F.col("user_id").cast("string")
    auc = md5_int(F.concat(F.lit("auc-"), uid), 2) % 256
    rnd = md5_int(F.concat(F.lit("rnd-"), uid), 2) % 256
    informed = u.select(
        F.lit("informed").alias("model"),
        "y",
        F.least(
            F.lit(0.95),
            F.greatest(F.lit(0.05), 0.15 + 0.55 * F.col("y") + 0.25 * auc / 255.0),
        ).alias("p_hat"),
    )
    random_ = u.select(F.lit("random").alias("model"), "y", (rnd / 255.0).alias("p_hat"))
    from pyspark.sql import Window

    scored = informed.unionByName(random_)
    w_rank = Window.partitionBy("model").orderBy(F.col("p_hat").asc())
    w_tie = Window.partitionBy("model", "p_hat")
    ranked = scored.select(
        "model",
        "y",
        F.rank().over(w_rank).alias("r_min"),
        F.count(F.lit(1)).over(w_tie).alias("n_tied"),
    )
    agg = ranked.groupBy("model").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"),
        F.sum(
            F.when(F.col("y") == 1, F.col("r_min") + (F.col("n_tied") - 1) / 2.0)
            .otherwise(0.0)
        ).alias("r_pos_sum"),
    )
    auc = (
        F.col("r_pos_sum") - F.col("n_pos") * (F.col("n_pos") + 1.0) / 2.0
    ) / (F.col("n_pos") * 1.0 * F.col("n_neg"))
    degenerate = (F.col("n_pos") == 0) | (F.col("n_neg") == 0)
    return agg.select(
        "model",
        "n_pos",
        "n_neg",
        F.round(F.when(degenerate, 0.5).otherwise(auc), 6).alias("auc"),
        F.round(F.when(degenerate, 0.0).otherwise(2.0 * auc - 1.0), 6).alias("gini"),
    )


@register(
    "eval_pass_at_k",
    tags=("stats", "eval", "ml"),
    oracle=f"""
WITH samples AS (
  SELECT doc_id % 25 AS problem_id,
         CASE WHEN ({md5_int_sql("'pass-' || doc_id", 2)} % 256)
              < 30 + 40 * (doc_id % 25 % 5) THEN 1 ELSE 0 END AS correct
  FROM documents
), per_problem AS (
  SELECT problem_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(correct) AS BIGINT) AS c
  FROM samples GROUP BY problem_id
), expanded AS (
  SELECT p.problem_id, p.n, p.c, k.k,
         CASE WHEN p.n - p.c < k.k THEN 1e0
              ELSE 1e0 - list_aggregate(
                     list_transform(generate_series(0, k.k - 1),
                                    i -> (p.n - p.c - i) * 1e0 / (p.n - i)),
                     'product')
         END AS pass_k
  FROM per_problem p
  CROSS JOIN (SELECT unnest([1, 5, 10]) AS k) k
)
SELECT k,
       CAST(count(*) AS BIGINT) AS n_problems,
       CAST(sum(n) AS BIGINT) AS total_samples,
       round(avg(pass_k), 6) AS pass_at_k
FROM expanded
GROUP BY k
""",
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k estimator (Codex/HumanEval, Chen et al. 2021:
    pass@k = E[1 - C(n-c,k)/C(n,k)]) over a deterministic per-problem
    sample sheet — the code-eval aggregation every model harness runs,
    here on 25 synthetic problems whose difficulty ramps with
    problem_id%5 so the k=1/5/10 rows separate. The combination ratio is
    evaluated as the ascending product of (n-c-i)/(n-i) (never raw
    factorials — no overflow at any n), with the n-c<k boundary emitting
    the exact 1.0 instead of a negative-term product. Ratios are <=1 so
    the 10-term product is ulp-stable; the single 6dp round absorbs
    fold-order differences between Spark's aggregate() and DuckDB's
    product().

    Scale: one hash agg to the 25-problem frame; the k-expansion is 75
    rows. At 100 TB only (problem_id, correct) flows out of the scan and
    the estimator is driver-free arithmetic on the tiny frame."""
    docs = load_table(spark, sf_dir, "documents")
    samples = docs.select(
        (F.col("doc_id") % 25).alias("problem_id"),
        F.when(
            md5_int(F.concat(F.lit("pass-"), F.col("doc_id").cast("string")), 2) % 256
            < 30 + 40 * (F.col("doc_id") % 25 % 5),
            1,
        )
        .otherwise(0)
        .alias("correct"),
    )
    per_problem = samples.groupBy("problem_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("correct").cast("bigint").alias("c"),
    )
    ks = per_problem.select(
        "problem_id",
        "n",
        "c",
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k"),
    )
    prod = F.aggregate(
        F.sequence(F.lit(0), F.col("k") - 1),
        F.lit(1.0),
        lambda acc, i: acc
        * (F.col("n") - F.col("c") - i).cast("double")
        / (F.col("n") - i).cast("double"),
    )
    expanded = ks.select(
        "problem_id",
        "n",
        "k",
        F.when(F.col("n") - F.col("c") < F.col("k"), F.lit(1.0))
        .otherwise(1.0 - prod)
        .alias("pass_k"),
    )
    return expanded.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_problems"),
        F.sum("n").cast("bigint").alias("total_samples"),
        F.round(F.avg("pass_k"), 6).alias("pass_at_k"),
    )


def _bt_oracle() -> str:
    """Build the unrolled 8-iteration MM oracle (AS MATERIALIZED per the
    iterative-CTE discipline — DuckDB inlines plain CTEs and the chain
    would blow up 2^k)."""
    head = f"""
WITH matches AS MATERIALIZED (
  SELECT doc_id % 8 AS a, (doc_id // 8) % 8 AS b,
         CASE WHEN ({md5_int_sql("'bt-' || doc_id", 3)} % 1000)
                   * ((doc_id % 8) + ((doc_id // 8) % 8) + 2)
              < 1000 * ((doc_id % 8) + 1) THEN 1 ELSE 0 END AS a_wins
  FROM documents WHERE doc_id % 8 <> (doc_id // 8) % 8
), pairs AS MATERIALIZED (
  SELECT i, j, CAST(count(*) AS BIGINT) AS n_ij FROM (
    SELECT a AS i, b AS j FROM matches
    UNION ALL SELECT b AS i, a AS j FROM matches
  ) GROUP BY i, j
), wins AS MATERIALIZED (
  SELECT i, CAST(sum(w) AS BIGINT) AS w FROM (
    SELECT a AS i, a_wins AS w FROM matches
    UNION ALL SELECT b AS i, 1 - a_wins AS w FROM matches
  ) GROUP BY i
), it0 AS MATERIALIZED (SELECT i, 1e0 AS s FROM wins)"""
    steps = []
    for t in range(1, 9):
        steps.append(f""", r{t} AS MATERIALIZED (
  SELECT p.i, w.w / sum(p.n_ij / (a.s + b.s)) AS s
  FROM pairs p
  JOIN it{t - 1} a ON a.i = p.i
  JOIN it{t - 1} b ON b.i = p.j
  JOIN wins w ON w.i = p.i
  GROUP BY p.i, w.w
), it{t} AS MATERIALIZED (
  SELECT i, s * 8e0 / (SELECT sum(s) FROM r{t}) AS s FROM r{t}
)""")
    tail = """
SELECT w.i AS model,
       CAST((SELECT sum(n_ij) FROM pairs p WHERE p.i = w.i) AS BIGINT)
         AS n_matches,
       w.w AS wins,
       round(it8.s, 5) AS strength,
       CAST(rank() OVER (ORDER BY it8.s DESC) AS BIGINT) AS strength_rank
FROM wins w JOIN it8 ON it8.i = w.i
"""
    return head + "".join(steps) + tail


@register(
    "eval_bradley_terry",
    tags=("stats", "eval", "ml", "iterative"),
    oracle=_bt_oracle(),
)
def eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry pairwise-preference strengths via 8 unrolled
    Hunter-2004 MM iterations (s_i <- W_i / sum_j n_ij/(s_i + s_j),
    renormalized to mean 1 each round) — the aggregation behind every
    LLM arena leaderboard: convert match outcomes between 8 arms into a
    strength scale. The match sheet is deterministic (md5 coin biased by
    the true strengths i+1, integer cross-multiplication so the winner
    bit is engine-exact); MM divides positive sums only, so no zero
    guards are needed once every arm has >=1 win (the fixture ramp
    guarantees it). 5dp rounding absorbs fold-order ulps across the 8
    iterations (each normalization rescales, errors stay relative).

    Scale: one scan collapses to a <=56-row directed pair frame and an
    8-row win frame; every MM step is a broadcast join over those.
    Iterative-lineage hazard pinned: per-step eager localCheckpoint
    keeps the 8-step plan from exponential reanalysis; the oracle's
    CTEs are AS MATERIALIZED for DuckDB's mirror of the same hazard."""
    docs = load_table(spark, sf_dir, "documents")
    a = (F.col("doc_id") % 8).alias("a")
    b = F.expr("(doc_id DIV 8) % 8").alias("b")
    coin = md5_int(F.concat(F.lit("bt-"), F.col("doc_id").cast("string")), 3) % 1000
    matches = (
        docs.select(
            a,
            b,
            coin.alias("coin"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.when(
                F.col("coin") * (F.col("a") + F.col("b") + 2) < 1000 * (F.col("a") + 1),
                1,
            )
            .otherwise(0)
            .alias("a_wins"),
        )
    )
    directed = matches.select(
        F.col("a").alias("i"), F.col("b").alias("j"), F.col("a_wins").alias("w")
    ).unionByName(
        matches.select(
            F.col("b").alias("i"), F.col("a").alias("j"), (1 - F.col("a_wins")).alias("w")
        )
    )
    pairs = directed.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ij")
    ).localCheckpoint(eager=True)
    wins = directed.groupBy("i").agg(F.sum("w").cast("bigint").alias("w")).localCheckpoint(
        eager=True
    )
    s = wins.select("i", F.lit(1.0).alias("s"))
    for _ in range(8):
        raw = (
            pairs.join(s.select(F.col("i"), F.col("s")), "i")
            .join(
                s.select(F.col("i").alias("j"), F.col("s").alias("s_j")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("n_ij") / (F.col("s") + F.col("s_j"))).alias("denom"))
            .join(wins, "i")
            .select("i", (F.col("w") / F.col("denom")).alias("s"))
        )
        tot = raw.agg(F.sum("s").alias("tot"))
        s = raw.crossJoin(F.broadcast(tot)).select(
            "i", (F.col("s") * 8.0 / F.col("tot")).alias("s")
        ).localCheckpoint(eager=True)
    n_matches = pairs.groupBy("i").agg(F.sum("n_ij").cast("bigint").alias("n_matches"))
    from pyspark.sql import Window

    return (
        wins.join(n_matches, "i")
        .join(s, "i")
        .select(
            F.col("i").alias("model"),
            "n_matches",
            F.col("w").alias("wins"),
            F.round("s", 5).alias("strength"),
            F.rank().over(Window.orderBy(F.col("s").desc())).cast("bigint").alias(  # frame: bounded (model-grain)
                "strength_rank"
            ),
        )
    )


@register(
    "stats_ols_residual_diagnostics",
    tags=("stats", "temporal"),
    oracle=f"""
WITH daily AS (
  -- exact cents + integer half-up to dollars (sf1-gate fix class, see
  -- temporal_holt_smoothing): round(sum(double)) ties on .5 midpoints
  -- where the engines' accumulation orders drift
  {orders_1996_by_day_sql(
      "CAST(count(*) AS BIGINT) AS x", f'{sum_dollars_half_up_sql("o_totalprice")} AS y'
  )}
), fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM daily
), ab AS (
  SELECT n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
  FROM fit
), resid AS (
  SELECT d, x, y - ab.a - ab.b * x AS e,
         lag(y - ab.a - ab.b * x) OVER (ORDER BY d) AS e_prev
  FROM daily CROSS JOIN ab
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         sum(e * e) AS see,
         sum(CASE WHEN e_prev IS NULL THEN 0e0
                  ELSE (e - e_prev) * (e - e_prev) END) AS sde,
         sum(x * 1e0) AS sx, sum(x * 1e0 * x) AS sxx,
         sum(e * e * x) AS sze, sum(e * e * e * e) AS szz_raw
  FROM resid
), bp AS (
  SELECT n_days, see, sde,
         (sze - sx * see / n_days)
           * (sze - sx * see / n_days)
           / ((sxx - sx * sx / n_days)
              * (szz_raw - see * see / n_days)) AS r2_aux
  FROM agg
)
SELECT bp.n_days,
       round(ab.b, 4) AS slope,
       round(ab.a, 2) AS intercept,
       round(bp.sde / bp.see, 4) AS dw_stat,
       CASE WHEN bp.sde / bp.see < 1.5e0 THEN 1 ELSE 0 END
         AS positive_autocorr,
       round(bp.n_days * bp.r2_aux, 4) AS bp_lm,
       CASE WHEN bp.n_days * bp.r2_aux > 3.841e0 THEN 1 ELSE 0 END
         AS heteroscedastic
FROM bp CROSS JOIN ab
""",
)
def stats_ols_residual_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation and Breusch-Pagan
    heteroscedasticity diagnostics on the SAME daily OLS fit (revenue ~
    order count over 1996) — the two residual checks any regression
    readout should ship with, here sharing one fit and one residual
    pass: DW = sum((e_t - e_{t-1})^2)/sum(e^2) over the date-ordered
    lag window; BP's LM = n * R2 of the e^2-on-x auxiliary regression,
    computed from single-pass co-moments of (x, e^2) without a second
    scan. Complements [[stats_ljung_box]] (whiteness of the raw series,
    not of fit residuals) and [[stats_ols_two_feature]] (the fit
    itself). Moment sums accumulate in HUGEINT/DECIMAL per the
    moment-sum discipline; thresholds (1.5, 3.841) sit far from any
    attainable ulp boundary.

    Scale: one day-grain hash agg is the only data-scale work; the fit
    broadcasts (one row), residuals stay on the bounded day frame, the
    lag window sorts <=366 rows."""
    daily = orders_1996_by_day(
        spark,
        sf_dir,
        F.count(F.lit(1)).cast("bigint").alias("x"),
        sum_dollars_half_up("o_totalprice").cast("bigint").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    fit = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ab = fit.select(
        "n",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
    )
    from pyspark.sql import Window

    e = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    resid = daily.crossJoin(F.broadcast(ab)).select(
        "d",
        "x",
        e.alias("e"),
        F.lag(e).over(Window.orderBy("d")).alias("e_prev"),  # frame: bounded (day-grain)
    )
    agg = resid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("e") * F.col("e")).alias("see"),
        F.sum(
            F.when(F.col("e_prev").isNull(), 0.0).otherwise(
                (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev"))
            )
        ).alias("sde"),
        F.sum(F.col("x") * 1.0).alias("sx"),
        F.sum(F.col("x") * 1.0 * F.col("x")).alias("sxx"),
        F.sum(F.col("e") * F.col("e") * F.col("x")).alias("sze"),
        F.sum(F.col("e") * F.col("e") * F.col("e") * F.col("e")).alias("szz_raw"),
    )
    r2_aux = (
        (F.col("sze") - F.col("sx") * F.col("see") / F.col("n_days"))
        * (F.col("sze") - F.col("sx") * F.col("see") / F.col("n_days"))
        / (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_days"))
            * (F.col("szz_raw") - F.col("see") * F.col("see") / F.col("n_days"))
        )
    )
    bp = agg.select("n_days", "see", "sde", r2_aux.alias("r2_aux"))
    return bp.crossJoin(F.broadcast(ab)).select(
        "n_days",
        F.round("b", 4).alias("slope"),
        F.round("a", 2).alias("intercept"),
        F.round(F.col("sde") / F.col("see"), 4).alias("dw_stat"),
        F.when(F.col("sde") / F.col("see") < 1.5, 1).otherwise(0).alias(
            "positive_autocorr"
        ),
        F.round(F.col("n_days") * F.col("r2_aux"), 4).alias("bp_lm"),
        F.when(F.col("n_days") * F.col("r2_aux") > 3.841, 1).otherwise(0).alias(
            "heteroscedastic"
        ),
    )


@register(
    "stats_engle_granger_coint",
    tags=("stats", "temporal"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         sum(CASE WHEN event_type = 'view' THEN value ELSE 0e0 END) AS x,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0e0 END) AS y
  FROM events GROUP BY 1
), fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM daily
), ab AS (
  SELECT n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
  FROM fit
), resid AS (
  SELECT d, y - ab.a - ab.b * x AS e,
         lag(y - ab.a - ab.b * x) OVER (ORDER BY d) AS e_prev
  FROM daily CROSS JOIN ab
), adf AS (
  SELECT CAST(count(*) AS BIGINT) AS n_diff,
         sum(e_prev * (e - e_prev)) / sum(e_prev * e_prev) AS rho,
         sum(e_prev * e_prev) AS s_ee
  FROM resid WHERE e_prev IS NOT NULL
), sse AS (
  SELECT adf.n_diff, adf.rho, adf.s_ee,
         sum((r.e - r.e_prev - adf.rho * r.e_prev)
             * (r.e - r.e_prev - adf.rho * r.e_prev)) AS ss_u
  FROM resid r CROSS JOIN adf
  WHERE r.e_prev IS NOT NULL
  GROUP BY adf.n_diff, adf.rho, adf.s_ee
)
SELECT ab.n AS n_days,
       round(ab.b, 6) AS slope,
       round(ab.a, 4) AS intercept,
       round(sse.rho, 6) AS rho,
       round(sse.rho / sqrt((sse.ss_u / (sse.n_diff - 2)) / sse.s_ee), 4)
         AS adf_t,
       CASE WHEN sse.rho / sqrt((sse.ss_u / (sse.n_diff - 2)) / sse.s_ee)
                 < -3.34e0 THEN 1 ELSE 0 END AS cointegrated
FROM sse CROSS JOIN ab
""",
)
def stats_engle_granger_coint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration screen (Engle & Granger
    1987) between the daily view-value and purchase-value series: OLS
    of y on x, then a lag-free Dickey-Fuller regression of the residual
    increments on the lagged residual (delta-e_t = rho * e_{t-1}),
    with t(rho) against the -3.34 Engle-Granger 5% critical value —
    the long-run-equilibrium question [[stats_granger_causality]]
    (short-run lead/lag) and [[stats_correlation_matrix]] (contemporaneous)
    cannot answer: two trending series correlate spuriously, but only
    a stationary residual makes them cointegrated.

    Scale: one day-grain hash agg is the data-scale work; the fit and
    the ADF pass are bounded-frame windows/aggs over <=|days| rows with
    a broadcast 1-row fit. Two small aggregation passes over the
    residual frame (rho, then its standard error) — never a second
    raw-data scan."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(0.0)).alias(
            "x"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("y"),
    )
    fit = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ab = fit.select("n", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"))
    from pyspark.sql import Window

    e = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    resid = daily.crossJoin(F.broadcast(ab)).select(
        "d", e.alias("e"), F.lag(e).over(Window.orderBy("d")).alias("e_prev")  # frame: bounded (day-grain)
    ).filter(F.col("e_prev").isNotNull()).localCheckpoint(eager=False)
    adf = resid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_diff"),
        (
            F.sum(F.col("e_prev") * (F.col("e") - F.col("e_prev")))
            / F.sum(F.col("e_prev") * F.col("e_prev"))
        ).alias("rho"),
        F.sum(F.col("e_prev") * F.col("e_prev")).alias("s_ee"),
    )
    u = F.col("e") - F.col("e_prev") - F.col("rho") * F.col("e_prev")
    sse = (
        resid.crossJoin(F.broadcast(adf))
        .groupBy("n_diff", "rho", "s_ee")
        .agg(F.sum(u * u).alias("ss_u"))
    )
    t = F.col("rho") / F.sqrt((F.col("ss_u") / (F.col("n_diff") - 2)) / F.col("s_ee"))
    return sse.crossJoin(F.broadcast(ab)).select(
        F.col("n").alias("n_days"),
        F.round("b", 6).alias("slope"),
        F.round("a", 4).alias("intercept"),
        F.round("rho", 6).alias("rho"),
        F.round(t, 4).alias("adf_t"),
        F.when(t < -3.34, 1).otherwise(0).alias("cointegrated"),
    )


@register(
    "eval_best_of_n_scaling",
    tags=("stats", "eval", "ml"),
    oracle=f"""
WITH s AS (
  SELECT doc_id % 40 AS prompt_id, doc_id,
         ({md5_int_sql("'bon-' || doc_id", 3)} % 1000)
           / 999e0 AS r
  FROM documents
), ranked AS (
  SELECT prompt_id, r,
         CAST(row_number() OVER (PARTITION BY prompt_id ORDER BY r, doc_id)
           AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY prompt_id) AS BIGINT) AS m
  FROM s
), expanded AS (
  SELECT n.n, prompt_id, r, i, m,
         pow(i * 1e0 / m, n.n) - pow((i - 1e0) / m, n.n) AS wgt
  FROM ranked CROSS JOIN (SELECT unnest([1, 4, 16]) AS n) n
), per_prompt AS (
  SELECT n, prompt_id, sum(r * wgt) AS bon, avg(r) AS mean_r
  FROM expanded GROUP BY n, prompt_id
)
SELECT n,
       CAST(count(*) AS BIGINT) AS n_prompts,
       round(avg(bon), 6) AS mean_best_of_n,
       round(avg(mean_r), 6) AS mean_single,
       round(avg(bon - mean_r), 6) + 0e0 AS mean_gain
FROM per_prompt GROUP BY n
""",
)
def eval_best_of_n_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n reward scaling curve: the exact expected maximum of n
    with-replacement draws from each prompt's empirical reward
    distribution, E[max] = sum_i r_(i) * ((i/m)^n - ((i-1)/m)^n) over
    the ascending order statistics — the inference-time-compute
    question (how much does sampling n candidates and taking the
    reward-argmax buy?) that [[eval_pass_at_k]] answers for binary
    pass/fail, here for continuous rewards. The order-statistic weights
    telescope to 1 per prompt, so best-of-1 equals the plain mean (the
    test pins this identity and the monotone n=1<4<16 gain curve).
    pow() is the one libm call — both engines round at 6dp, absorbing
    its cross-engine ulps; ranks and counts are exact integers with
    doc_id tie-breaks.

    Scale: one window rank inside prompt partitions, a 3x expansion on
    the ranked frame, two hash aggs. Rewards are deterministic md5
    pseudo-scores; production reads a reward-model column — same
    plan."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        (F.col("doc_id") % 40).alias("prompt_id"),
        "doc_id",
        (md5_int(F.concat(F.lit("bon-"), F.col("doc_id").cast("string")), 3) % 1000 / 999.0).alias(
            "r"
        ),
    )
    from pyspark.sql import Window

    ranked = s.select(
        "prompt_id",
        "r",
        F.row_number()
        .over(Window.partitionBy("prompt_id").orderBy("r", "doc_id"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy("prompt_id"))
        .cast("bigint")
        .alias("m"),
    )
    expanded = ranked.select(
        "prompt_id",
        "r",
        "i",
        "m",
        F.explode(F.array(F.lit(1), F.lit(4), F.lit(16))).alias("n"),
    ).select(
        "n",
        "prompt_id",
        "r",
        (
            F.pow(F.col("i") * 1.0 / F.col("m"), F.col("n"))
            - F.pow((F.col("i") - 1.0) / F.col("m"), F.col("n"))
        ).alias("wgt"),
    )
    per_prompt = expanded.groupBy("n", "prompt_id").agg(
        F.sum(F.col("r") * F.col("wgt")).alias("bon"),
        F.avg("r").alias("mean_r"),
    )
    return per_prompt.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prompts"),
        F.round(F.avg("bon"), 6).alias("mean_best_of_n"),
        F.round(F.avg("mean_r"), 6).alias("mean_single"),
        # + 0.0 normalizes IEEE negative zero at n=1 (bon == mean exactly,
        # but the subtraction's rounding can land on DuckDB's -0.0)
        (F.round(F.avg(F.col("bon") - F.col("mean_r")), 6) + F.lit(0.0)).alias(
            "mean_gain"
        ),
    )


@register(
    "stats_hodges_lehmann",
    tags=("stats", "temporal"),
    oracle=f"""
WITH daily AS (
  {orders_1996_by_day_sql("CAST(count(*) AS BIGINT) AS x")}
), walsh AS (
  SELECT a.x + b.x AS s
  FROM daily a JOIN daily b ON a.d <= b.d
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_walsh, median(s) AS med2 FROM walsh
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days, avg(x * 1e0) AS mean_x,
         median(x) AS median_x
  FROM daily
)
SELECT base.n_days, m.n_walsh,
       round(m.med2 / 2e0, 4) AS hl_location,
       round(base.mean_x, 4) AS mean_x,
       round(base.median_x, 4) AS median_x,
       round(m.med2 / 2e0 - base.mean_x, 4) AS hl_minus_mean
FROM base CROSS JOIN m
""",
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimator: the median of all Walsh
    averages (x_i + x_j)/2 over unordered day pairs INCLUDING self-
    pairs — the robust location with 95.5% Gaussian efficiency that the
    plain median (64%) can't touch, and the estimator behind the
    Wilcoxon CI. Computed as median of the INTEGER pair sums then one
    final /2, so the interpolated middle is exact (.0 or .5) on both
    engines — the same integer-first discipline as
    [[stats_kendall_tau]], whose bounded day-pair join this reuses.
    Emitted next to the mean and plain median so the test can pin the
    robustness ordering |HL - mean| <= |median - mean| on skewed days.

    Scale: the O(n^2) Walsh expansion is bounded BY CONSTRUCTION to the
    year's day grain (<=366 rows, <=67k pairs, broadcast join); the
    median runs on one small sorted frame. Day-grain agg is the only
    data-scale work."""
    daily = orders_1996_by_day(spark, sf_dir, F.count(F.lit(1)).cast("bigint").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    walsh = a.join(F.broadcast(b), F.col("a.d") <= F.col("b.d")).select(
        (F.col("a.x") + F.col("b.x")).alias("s")
    )
    m = walsh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_walsh"),
        F.expr("percentile(s, 0.5)").alias("med2"),
    )
    base = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.avg(F.col("x") * 1.0).alias("mean_x"),
        F.expr("percentile(x, 0.5)").alias("median_x"),
    )
    return base.crossJoin(F.broadcast(m)).select(
        "n_days",
        "n_walsh",
        F.round(F.col("med2") / 2.0, 4).alias("hl_location"),
        F.round("mean_x", 4).alias("mean_x"),
        F.round("median_x", 4).alias("median_x"),
        F.round(F.col("med2") / 2.0 - F.col("mean_x"), 4).alias("hl_minus_mean"),
    )


@register(
    "eval_youden_threshold",
    tags=("stats", "eval", "ml"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {CONVERTED_SQL}
           AS y
  FROM events GROUP BY user_id
), scored AS (
  SELECT y,
         {md5_int_sql("'auc-' || user_id", 2)} % 256
           AS score
  FROM u
), totals AS (
  SELECT CAST(sum(y) AS BIGINT) AS pos,
         CAST(count(*) - sum(y) AS BIGINT) AS neg
  FROM scored
), roc AS (
  SELECT t.t,
         CAST(sum(CASE WHEN s.score >= t.t AND s.y = 1 THEN 1 ELSE 0 END)
           AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s.score >= t.t AND s.y = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS fp
  FROM scored s CROSS JOIN (SELECT unnest(generate_series(0, 256)) AS t) t
  GROUP BY t.t
), j AS (
  SELECT roc.t, roc.tp, roc.fp, totals.pos, totals.neg,
         roc.tp * totals.neg - roc.fp * totals.pos AS j_num
  FROM roc CROSS JOIN totals
)
SELECT t AS best_threshold,
       round(tp * 1e0 / pos, 6) AS tpr,
       round(fp * 1e0 / neg, 6) AS fpr,
       round((tp * neg - fp * pos) * 1e0 / (pos * neg), 6) AS youden_j,
       round((tp + (neg - fp)) * 1e0 / (pos + neg), 6) AS accuracy
FROM j
QUALIFY row_number() OVER (ORDER BY j_num DESC, t) = 1
""",
)
def eval_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal operating point: sweep every attainable score
    threshold, compute TPR/FPR from exact integer confusion counts, and
    select argmax(TPR - FPR) — the threshold-CHOICE step that turns
    [[eval_auc_roc]]'s threshold-free ranking score into a deployable
    classifier cutoff (J is the vertical distance of the ROC curve
    above chance; the argmax is where a screening rule should operate).
    Selection ranks on the INTEGER cross-product tp*neg - fp*pos — not
    the rounded float J — so the argmax can never flip on division
    ulps, with the threshold itself as the deterministic tie-break.

    Scale: the scored frame is per-user (one hash agg); the 257-way
    threshold sweep expands the SCORED frame, not raw events, and
    collapses immediately to 257 integer rows. At 100 TB the sweep is
    a constant-factor map over the user frame — no sort, no
    quantiles."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("y"))
    scored = u.select(
        "y",
        (md5_int(F.concat(F.lit("auc-"), F.col("user_id").cast("string")), 2) % 256).alias("score"),
    )
    totals = scored.agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg"),
    )
    roc = (
        scored.select("y", "score", F.explode(F.sequence(F.lit(0), F.lit(256))).alias("t"))
        .groupBy("t")
        .agg(
            F.sum(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
        )
    )
    from pyspark.sql import Window

    j = roc.crossJoin(F.broadcast(totals)).select(
        "t",
        "tp",
        "fp",
        "pos",
        "neg",
        (F.col("tp") * F.col("neg") - F.col("fp") * F.col("pos")).alias("j_num"),
    )
    return (
        j.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.col("j_num").desc(), F.col("t")))  # frame: top-k over bounded 257-threshold grain
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("t").alias("best_threshold"),
            F.round(F.col("tp") * 1.0 / F.col("pos"), 6).alias("tpr"),
            F.round(F.col("fp") * 1.0 / F.col("neg"), 6).alias("fpr"),
            F.round(F.col("j_num") * 1.0 / (F.col("pos") * F.col("neg")), 6).alias(
                "youden_j"
            ),
            F.round(
                (F.col("tp") + (F.col("neg") - F.col("fp"))) * 1.0
                / (F.col("pos") + F.col("neg")),
                6,
            ).alias("accuracy"),
        )
    )


@register(
    "stats_bland_altman",
    tags=("stats", "quality"),
    oracle=f"""
WITH inst AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 1e2) AS BIGINT)
           + ({md5_int_sql("'ba-a-' || o_orderkey", 4)} % 2001 - 1000) * 12000 AS x,
         CAST(round(o_totalprice * 1e2) AS BIGINT) + 5000000
           + ({md5_int_sql("'ba-b-' || o_orderkey", 4)} % 2001 - 1000) * 12000 AS y
  FROM orders
), paired AS (
  SELECT x, y, y - x AS d FROM inst
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS sd1,
         CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS sd2
  FROM paired
), lim AS (
  SELECT n, sd1 / n AS bias,
         sqrt((sd2 - sd1 * sd1 / n) / (n - 1)) AS sd
  FROM m
)
SELECT lim.n,
       round(lim.bias / 1e2, 4) AS bias,
       round((lim.bias - 1.96e0 * lim.sd) / 1e2, 4) AS loa_low,
       round((lim.bias + 1.96e0 * lim.sd) / 1e2, 4) AS loa_high,
       round(sum(CASE WHEN p.d < lim.bias - 1.96e0 * lim.sd
                        OR p.d > lim.bias + 1.96e0 * lim.sd
                      THEN 1 ELSE 0 END) * 1e0 / lim.n, 6) AS frac_outside
FROM paired p CROSS JOIN lim
GROUP BY lim.n, lim.bias, lim.sd
""",
)
def stats_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis (Lancet 1986) between two
    instruments reading the SAME underlying quantity — each order's
    true total in cents observed through two deterministic md5-noise
    instruments of EQUAL precision, instrument B carrying a constant
    +$50k calibration offset: bias (mean difference), 95% limits of
    agreement (bias +/- 1.96 sd), and the fraction of orders outside
    them. This is the method-comparison question correlation can NOT
    answer — these two instruments correlate near 1 yet disagree by
    $50k systematically, which is exactly what BA surfaces and r hides.
    (The synthetic-instrument discipline of [[eval_calibration_brier]];
    production points x/y at real paired measure columns.) Every
    row-level difference is an exact INTEGER in cents, so the
    outside-limits comparison is bit-deterministic on both engines.

    Scale: one scan, one 3-sum moment reduce (HUGEINT/DECIMAL), one
    1-row broadcast of the limits back over the pair frame — two
    passes, no join, no sort."""
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey").cast("string")
    ja = md5_int(F.concat(F.lit("ba-a-"), key), 4) % 2001 - 1000
    jb = md5_int(F.concat(F.lit("ba-b-"), key), 4) % 2001 - 1000
    t = to_cents("o_totalprice")
    paired = o.select((t + ja * 12000).alias("x"), (t + 5000000 + jb * 12000).alias("y")).select(
        "x", "y", (F.col("y") - F.col("x")).alias("d")
    )
    m = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("d").cast("decimal(38,0)")).cast("double").alias("sd1"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).cast("double").alias("sd2"),
    )
    lim = m.select(
        "n",
        (F.col("sd1") / F.col("n")).alias("bias"),
        F.sqrt(
            (F.col("sd2") - F.col("sd1") * F.col("sd1") / F.col("n")) / (F.col("n") - 1)
        ).alias("sd"),
    )
    lo = F.col("bias") - 1.96 * F.col("sd")
    hi = F.col("bias") + 1.96 * F.col("sd")
    return (
        paired.crossJoin(F.broadcast(lim))
        .groupBy("n", "bias", "sd")
        .agg(
            F.round(
                F.sum(F.when((F.col("d") < lo) | (F.col("d") > hi), 1).otherwise(0))
                * 1.0
                / F.col("n"),
                6,
            ).alias("frac_outside")
        )
        .select(
            "n",
            F.round(F.col("bias") / 100.0, 4).alias("bias"),
            F.round(lo / 100.0, 4).alias("loa_low"),
            F.round(hi / 100.0, 4).alias("loa_high"),
            "frac_outside",
        )
    )


@register(
    "stats_deming_regression",
    tags=("stats", "quality"),
    oracle=f"""
WITH inst AS (
  SELECT CAST(round(o_totalprice * 1e2) AS BIGINT)
           + ({md5_int_sql("'ba-a-' || o_orderkey", 4)} % 2001 - 1000) * 12000 AS x,
         CAST(round(o_totalprice * 1e2) AS BIGINT) + 5000000
           + ({md5_int_sql("'ba-b-' || o_orderkey", 4)} % 2001 - 1000) * 12000 AS y
  FROM orders
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM inst
), cm AS (
  SELECT n,
         (sxx - sx * sx / n) / (n - 1) AS uxx,
         (syy - sy * sy / n) / (n - 1) AS uyy,
         (sxy - sx * sy / n) / (n - 1) AS uxy,
         sx / n AS mx, sy / n AS my
  FROM m
)
SELECT n,
       round(uxy / uxx, 6) AS slope_ols,
       round((uyy - uxx + sqrt((uyy - uxx) * (uyy - uxx) + 4e0 * uxy * uxy))
             / (2e0 * uxy), 6) AS slope_deming,
       round((my - (uyy - uxx + sqrt((uyy - uxx) * (uyy - uxx)
                                     + 4e0 * uxy * uxy))
                   / (2e0 * uxy) * mx) / 1e2, 4) AS intercept_deming,
       round(uxy / sqrt(uxx * uyy), 6) AS pearson_r
FROM cm
""",
)
def stats_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming regression (errors-in-BOTH-variables, lambda=1) on the
    same two equal-precision instruments as [[stats_bland_altman]]:
    the closed-form slope (S_yy - S_xx + sqrt((S_yy - S_xx)^2 +
    4 S_xy^2)) / (2 S_xy). The true instrument relationship is
    y = x + const (slope exactly 1), but OLS ATTENUATES the slope
    toward var_truth/(var_truth + var_noise) because it wrongly
    assigns all error to y — with noise sd at ~half the signal sd the
    attenuation is large and visible, and emitting slope_ols next to
    slope_deming makes the correction the test's pinned invariant
    (Deming recovers ~1.0, OLS sits measurably below). One pass of
    integer-cents co-moments in HUGEINT/DECIMAL; identical double
    algebra both engines, rounded at the end.

    Scale: one scan + one 5-sum moment reduce — the cheapest possible
    shape; only co-moments leave the executors."""
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey").cast("string")
    ja = md5_int(F.concat(F.lit("ba-a-"), key), 4) % 2001 - 1000
    jb = md5_int(F.concat(F.lit("ba-b-"), key), 4) % 2001 - 1000
    t = to_cents("o_totalprice")
    paired = o.select((t + ja * 12000).alias("x"), (t + 5000000 + jb * 12000).alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
    )
    cm = m.select(
        "n",
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("uxx"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("uyy"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("uxy"),
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
    )
    deming = (
        F.col("uyy")
        - F.col("uxx")
        + F.sqrt(
            (F.col("uyy") - F.col("uxx")) * (F.col("uyy") - F.col("uxx"))
            + 4.0 * F.col("uxy") * F.col("uxy")
        )
    ) / (2.0 * F.col("uxy"))
    return cm.select(
        "n",
        F.round(F.col("uxy") / F.col("uxx"), 6).alias("slope_ols"),
        F.round(deming, 6).alias("slope_deming"),
        F.round((F.col("my") - deming * F.col("mx")) / 100.0, 4).alias(
            "intercept_deming"
        ),
        F.round(F.col("uxy") / F.sqrt(F.col("uxx") * F.col("uyy")), 6).alias(
            "pearson_r"
        ),
    )


@register(
    "stats_isotonic_calibration",
    tags=("stats", "eval", "ml"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {CONVERTED_SQL}
           AS y
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id, y,
         least(9.5e-1, greatest(5e-2,
           1.5e-1 + 5.5e-1 * y
                + 2.5e-1 * ({md5_int_sql("'cal-' || user_id", 2)} % 256) / 255e0)) AS p_hat
  FROM u
), bins AS (
  SELECT CAST(least(floor(p_hat * 1e1), 9) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS conv,
         round(avg(p_hat), 6) AS mean_predicted
  FROM scored GROUP BY 1
), pre AS (
  SELECT bin, n, conv, mean_predicted,
         sum(n) OVER (ORDER BY bin) AS cn,
         sum(conv) OVER (ORDER BY bin) AS cc
  FROM bins
), intervals AS (
  SELECT j.bin AS j, k.bin AS k,
         (k.cc - j.cc + j.conv) * 1e0 / (k.cn - j.cn + j.n) AS avg_jk
  FROM pre j JOIN pre k ON j.bin <= k.bin
), minimax AS (
  SELECT i.bin, iv.j, min(iv.avg_jk) AS m_ij
  FROM pre i JOIN intervals iv ON iv.j <= i.bin AND iv.k >= i.bin
  GROUP BY i.bin, iv.j
), fitted AS (
  SELECT bin, max(m_ij) AS iso FROM minimax GROUP BY bin
)
SELECT b.bin, b.n, b.mean_predicted,
       round(b.conv * 1e0 / b.n, 6) AS observed_rate,
       round(f.iso, 6) AS isotonic_rate
FROM bins b JOIN fitted f ON f.bin = b.bin
""",
)
def stats_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the decile reliability curve
    — the regression PAV computes, here via the exact MINIMAX identity
    iso_i = max_{j<=i} min_{k>=i} weightedMean(y over bins j..k), which
    is closed-form SQL because the bin grain is bounded (10 bins -> 55
    intervals -> 550 (i,j) pairs): prefix sums give every interval's
    weighted mean as a RATIO OF EXACT INTEGERS (conversions/users), so
    the min/max lattice is bit-deterministic on both engines with no
    sequential pool-adjacent-violators loop at all. Repairs the
    non-monotone wobbles the raw [[eval_calibration_brier]] curve shows
    while preserving each pooled level as an actual empirical rate —
    the calibration map you'd deploy in front of a scorer chosen by
    [[eval_youden_threshold]].

    Scale: the data-scale work is the same one per-user agg + 10-bin
    reduce as the Brier query; the minimax lattice is constant-size
    algebra. PAV's O(n) stack would matter only if the BIN grain grew
    with data — it never does."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(converted().alias("y"))
    coin = md5_int(F.concat(F.lit("cal-"), F.col("user_id").cast("string")), 2) % 256
    p_hat = F.least(
        F.lit(0.95),
        F.greatest(F.lit(0.05), 0.15 + 0.55 * F.col("y") + 0.25 * coin / 255.0),
    )
    bins = (
        u.select(F.least(F.floor(p_hat * 10), F.lit(9)).cast("bigint").alias("bin"), "y", p_hat.alias("p_hat"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("conv"),
            F.round(F.avg("p_hat"), 6).alias("mean_predicted"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)  # frame: bounded (score-bin grain)
    pre = bins.select(
        "bin", "n", "conv", "mean_predicted",
        F.sum("n").over(w).alias("cn"),
        F.sum("conv").over(w).alias("cc"),
    ).localCheckpoint(eager=False)
    j = pre.select(F.col("bin").alias("j"), F.col("n").alias("jn"), F.col("conv").alias("jc"), F.col("cn").alias("jcn"), F.col("cc").alias("jcc"))
    k = pre.select(F.col("bin").alias("k"), F.col("cn").alias("kcn"), F.col("cc").alias("kcc"))
    intervals = j.join(k, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("kcc") - F.col("jcc") + F.col("jc")) * 1.0
            / (F.col("kcn") - F.col("jcn") + F.col("jn"))
        ).alias("avg_jk"),
    )
    i = pre.select(F.col("bin").alias("i"))
    minimax = (
        i.join(intervals, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("m_ij"))
    )
    fitted = minimax.groupBy("i").agg(F.max("m_ij").alias("iso"))
    return bins.join(fitted, bins.bin == fitted.i).select(
        "bin",
        "n",
        "mean_predicted",
        F.round(F.col("conv") * 1.0 / F.col("n"), 6).alias("observed_rate"),
        F.round("iso", 6).alias("isotonic_rate"),
    )


@register(
    "stats_wilcoxon_signed_rank",
    tags=("stats", "testing"),
    oracle=f"""
WITH cy AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS cents
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1, 2
), pairs AS (
  SELECT a.o_custkey,
         b.cents - a.cents AS d,
         abs(b.cents - a.cents) AS ad
  FROM cy a JOIN cy b ON a.o_custkey = b.o_custkey
  WHERE a.yr = 1995 AND b.yr = 1996 AND b.cents <> a.cents
), ranked AS (
  SELECT d, ad,
         row_number() OVER (ORDER BY ad, o_custkey) * 1e0 AS rn
  FROM pairs
), tied AS (
  SELECT d, avg(rn) OVER (PARTITION BY ad) AS r FROM ranked
), ties AS (
  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_corr
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM pairs GROUP BY ad)
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(*) FILTER (WHERE d > 0) AS BIGINT) AS n_pos,
         CAST(count(*) FILTER (WHERE d < 0) AS BIGINT) AS n_neg,
         sum(CASE WHEN d > 0 THEN r ELSE 0 END) AS w_plus
  FROM tied
)
SELECT n_pairs, n_pos, n_neg,
       round(coalesce(w_plus, 0e0), 1) AS w_plus,
       CASE WHEN n_pairs = 0 THEN 0e0 ELSE
         round((w_plus - n_pairs * (n_pairs + 1) / 4e0)
               / sqrt(n_pairs * (n_pairs + 1e0) * (2 * n_pairs + 1) / 24e0
                      - coalesce(tie_corr, 0) / 48e0), 6) END AS z_stat,
       CASE WHEN n_pairs = 0 THEN 0 ELSE
         CAST(abs((w_plus - n_pairs * (n_pairs + 1) / 4e0)
               / sqrt(n_pairs * (n_pairs + 1e0) * (2 * n_pairs + 1) / 24e0
                      - coalesce(tie_corr, 0) / 48e0)) > 1.96 AS BIGINT) END
         AS significant
FROM agg, ties
""",
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-customer annual spend
    (1995 vs 1996) — the PAIRED continuous nonparametric test the suite
    was missing: [[stats_mann_whitney_u]] compares independent arms,
    [[stats_mcnemar_test]] pairs binary outcomes, [[stats_friedman_test]]
    needs k>2 blocks; this is the two-period matched case (each customer
    is their own control, so between-customer spend variance — the
    dominant noise term — cancels instead of inflating the denominator
    like a two-sample test would). Zero diffs drop (standard Wilcoxon),
    |diff| gets average ranks over exact-integer-cents tie runs (the
    two-phase banded rank — `ranks.tie_rank2` — since the averaged rank
    depends only on |d|; the [[stats_mann_whitney_u]] idiom), and
    the normal approximation carries the full tie correction
    sum(t^3 - t)/48. W+, the mean n(n+1)/4 and the variance are all
    derived from exact integers; ranks are half-integers, exact in
    doubles far beyond any realistic n.

    Scale: the fact scan reduces to (customer, year) in one
    map-side-combined exchange; the pair pivot is a self-join on the
    customer grain; ranks come from the |d|-grain histogram with no
    one-task window anywhere (VERDICT r7 #4)."""
    cy = (
        load_table(spark, sf_dir, "orders")
        .where(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("bigint").alias("yr")
        )
        .agg(
            F.sum(to_cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
    )
    a = cy.where(F.col("yr") == 1995).select(
        "o_custkey", F.col("cents").alias("c94")
    )
    b = cy.where(F.col("yr") == 1996).select(
        "o_custkey", F.col("cents").alias("c95")
    )
    pairs = (
        a.join(b, "o_custkey")
        .where(F.col("c95") != F.col("c94"))
        .select(
            "o_custkey",
            (F.col("c95") - F.col("c94")).alias("d"),
            F.abs(F.col("c95") - F.col("c94")).alias("ad"),
        )
    )
    # two-phase banded ranks (VERDICT r7 #4): the tie-AVERAGED rank
    # depends only on |d|, so the (ad, o_custkey) row order the old
    # one-task window used cancels out — rank2/2 from the |d|-grain
    # histogram folds W+ exactly (bigint before one halving)
    from .ranks import tie_rank2

    h2 = pairs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.count_if(F.col("d") > 0).cast("bigint").alias("t_pos"),
    )
    r2 = tie_rank2(h2, "ad", "t", (F.col("ad") / 100000).cast("bigint"))
    ties = h2.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_corr")
    )
    agg = r2.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("t_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
        F.coalesce(F.sum(F.col("t") - F.col("t_pos")), F.lit(0))
        .cast("bigint")
        .alias("n_neg"),
        (
            F.sum(F.col("t_pos") * F.col("rank2")).cast("bigint") * 0.5
        ).alias("w_plus"),
    )
    z = (
        F.col("w_plus") - F.col("n_pairs") * (F.col("n_pairs") + 1) / 4.0
    ) / F.sqrt(
        F.col("n_pairs")
        * (F.col("n_pairs") + F.lit(1.0))
        * (2 * F.col("n_pairs") + 1)
        / 24.0
        - F.coalesce(F.col("tie_corr"), F.lit(0)) / 48.0
    )
    # degenerate guard (ADVICE r4 class): zero eligible pairs — e.g. a
    # scale factor whose date span misses a year — emits a defined
    # not-significant row instead of NULL z (DuckDB would also 0/0)
    empty = F.col("n_pairs") == 0
    return agg.crossJoin(ties).select(
        "n_pairs",
        "n_pos",
        "n_neg",
        F.round(F.coalesce("w_plus", F.lit(0.0)), 1).alias("w_plus"),
        F.when(empty, F.lit(0.0)).otherwise(F.round(z, 6)).alias("z_stat"),
        F.when(empty, F.lit(0))
        .otherwise((F.abs(z) > 1.96).cast("bigint"))
        .cast("bigint")
        .alias("significant"),
    )


@register(
    "stats_wasserstein_1d",
    tags=("stats", "distribution"),
    oracle=f"""
WITH s AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         {to_cents_sql("o_totalprice")} AS cents
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
), n AS (
  SELECT CAST(count(*) FILTER (WHERE yr = 1995) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE yr = 1996) AS BIGINT) AS n_b
  FROM s
), grid AS (
  SELECT cents,
         CAST(count(*) FILTER (WHERE yr = 1995) AS BIGINT) AS d_a,
         CAST(count(*) FILTER (WHERE yr = 1996) AS BIGINT) AS d_b
  FROM s GROUP BY cents
), cum AS (
  SELECT cents,
         sum(d_a) OVER (ORDER BY cents) AS c_a,
         sum(d_b) OVER (ORDER BY cents) AS c_b,
         lead(cents) OVER (ORDER BY cents) - cents AS gap
  FROM grid
), area AS (
  SELECT CAST(sum(CAST(abs(c_a * (SELECT n_b FROM n)
                           - c_b * (SELECT n_a FROM n)) AS HUGEINT) * gap)
              AS HUGEINT) AS s_num
  FROM cum WHERE gap IS NOT NULL
)
SELECT n_a, n_b,
       round(CAST(s_num AS DOUBLE) / (n_a * n_b) / 100, 4) AS w1_dollars,
       round(CAST(s_num AS DOUBLE) / (n_a * n_b)
             / (SELECT avg(cents) FROM s WHERE yr = 1995), 6) AS w1_rel
FROM area, n
""",
)
def stats_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth mover's) distance between the 1995
    and 1996 order-price distributions — the metric drift number
    [[stats_psi_drift]]'s binned score approximates and [[stats_ks_test]]'s
    sup-norm bounds from below: W1 = integral |F_a - F_b| over the value
    axis, i.e. the average dollars each 1996 order must "move" to
    reshape into the 1995 distribution. On discrete samples this is a
    closed form over the merged support: sum |F_a(v)-F_b(v)| * gap(v).
    The float-determinism discipline makes it bit-exact: both CDFs stay
    as INTEGER cumulative counts, each term is |c_a*n_b - c_b*n_a| *
    gap — exact integers accumulated in decimal(38,0) (HUGEINT twin) —
    and only the final single division leaves integer space, so partial-
    aggregation order can never flip a bit.

    Scale: one exchange to the cents grain (map-side combined); the
    CDF sweep over the merged support runs as the two-phase banded
    cumsum (`ranks.two_phase_ordered`, VERDICT r7 #4 — the support is
    near-order-cardinality on near-continuous prices, so no one-task
    window), with the inter-value gap from an rn self-join instead of
    lead(); one scalar division at the end."""
    from .ranks import two_phase_ordered

    s = (
        load_table(spark, sf_dir, "orders")
        .where(F.year("o_orderdate").isin(1995, 1996))
        .select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            to_cents("o_totalprice").alias("cents"),
        )
    )
    n = s.agg(
        F.count_if(F.col("yr") == 1995).cast("bigint").alias("n_a"),
        F.count_if(F.col("yr") == 1996).cast("bigint").alias("n_b"),
    )
    mean_a = s.where(F.col("yr") == 1995).agg(F.avg("cents").alias("mu_a"))
    grid = s.groupBy("cents").agg(
        F.count_if(F.col("yr") == 1995).cast("bigint").alias("d_a"),
        F.count_if(F.col("yr") == 1996).cast("bigint").alias("d_b"),
    )
    swept = two_phase_ordered(
        grid,
        (F.col("cents") / 100000).cast("bigint"),
        ["cents"],
        rn="rn",
        cum_sums={"d_a": "c_a", "d_b": "c_b"},
    )
    nxt = swept.select((F.col("rn") - 1).alias("rn"), F.col("cents").alias("next_cents"))
    cum = swept.join(nxt, "rn").select(
        "cents", "c_a", "c_b", (F.col("next_cents") - F.col("cents")).alias("gap")
    )
    area = (
        cum.where(F.col("gap").isNotNull())
        .crossJoin(n)
        .agg(
            F.sum(
                F.abs(
                    F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")
                ).cast("decimal(38,0)")
                * F.col("gap")
            )
            .cast("decimal(38,0)")
            .alias("s_num")
        )
    )
    return (
        area.crossJoin(n)
        .crossJoin(mean_a)
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("s_num").cast("double") / (F.col("n_a") * F.col("n_b")) / 100, 4
            ).alias("w1_dollars"),
            F.round(
                F.col("s_num").cast("double")
                / (F.col("n_a") * F.col("n_b"))
                / F.col("mu_a"),
                6,
            ).alias("w1_rel"),
        )
    )


@register(
    "stats_cohens_d_effect",
    tags=("stats", "experiment"),
    oracle=f"""
WITH s AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         {to_cents_sql("o_totalprice")} AS cents
  FROM orders
), m AS (
  SELECT CAST(count(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 'A' THEN CAST(cents AS HUGEINT) END) AS HUGEINT) AS sa,
         CAST(sum(CASE WHEN arm = 'B' THEN CAST(cents AS HUGEINT) END) AS HUGEINT) AS sb,
         CAST(sum(CASE WHEN arm = 'A' THEN CAST(cents AS HUGEINT) * cents END) AS HUGEINT) AS qa,
         CAST(sum(CASE WHEN arm = 'B' THEN CAST(cents AS HUGEINT) * cents END) AS HUGEINT) AS qb
  FROM s
), d AS (
  SELECT n_a, n_b,
         CAST(sa AS DOUBLE) / n_a / 100 AS mean_a,
         CAST(sb AS DOUBLE) / n_b / 100 AS mean_b,
         sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n_a)
               + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n_b))
              / (n_a + n_b - 2)) / 100 AS sd_pooled
  FROM m
)
SELECT n_a, n_b,
       round(mean_a, 2) AS mean_a,
       round(mean_b, 2) AS mean_b,
       round(sd_pooled, 2) AS sd_pooled,
       round((mean_b - mean_a) / sd_pooled, 6) AS cohens_d,
       round((1 - 3e0 / (4 * (n_a + n_b - 2) - 1))
             * (mean_b - mean_a) / sd_pooled, 6) AS hedges_g,
       round(sqrt((n_a + n_b) * 1e0 / (n_a * n_b)
                  + pow((mean_b - mean_a) / sd_pooled, 2)
                    / (2e0 * (n_a + n_b - 2))), 6) AS se_d
FROM d
""",
)
def stats_cohens_d_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean difference between the parity arms — Cohen's d
    with the pooled SD, Hedges' g small-sample correction
    J = 1 - 3/(4*df - 1), and the large-sample standard error of d.
    This is the EFFECT SIZE column every test in the family
    ([[stats_welch_ttest]] significance, [[stats_experiment_power]]
    planning, [[stats_meta_analysis_pooled]] pooling) consumes:
    significance says an effect exists, d says whether anyone should
    care, and g is what meta-analyses actually pool. Moment sums
    accumulate as exact integer cents in decimal(38,0)/HUGEINT, so the
    divisions that produce means and the pooled SD start from identical
    integers on both engines; sqrt is correctly-rounded IEEE on both.

    Scale: one scan, one 6-number moment agg (map-side combined) —
    constant-size algebra after that, the cheapest query shape there
    is."""
    s = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 2 == 0, "A").otherwise("B").alias("arm"),
        to_cents("o_totalprice").alias("cents"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = s.agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("n_a"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", dec("cents"))).alias("sa"),
        F.sum(F.when(F.col("arm") == "B", dec("cents"))).alias("sb"),
        F.sum(F.when(F.col("arm") == "A", dec("cents") * F.col("cents"))).alias("qa"),
        F.sum(F.when(F.col("arm") == "B", dec("cents") * F.col("cents"))).alias("qb"),
    )
    mean_a = F.col("sa").cast("double") / F.col("n_a") / 100
    mean_b = F.col("sb").cast("double") / F.col("n_b") / 100
    sd_pooled = (
        F.sqrt(
            (
                (F.col("qa").cast("double") - F.col("sa").cast("double") * F.col("sa") / F.col("n_a"))
                + (F.col("qb").cast("double") - F.col("sb").cast("double") * F.col("sb") / F.col("n_b"))
            )
            / (F.col("n_a") + F.col("n_b") - 2)
        )
        / 100
    )
    d = (mean_b - mean_a) / sd_pooled
    j = 1 - 3.0 / (4 * (F.col("n_a") + F.col("n_b") - 2) - 1)
    se = F.sqrt(
        (F.col("n_a") + F.col("n_b")) * 1.0 / (F.col("n_a") * F.col("n_b"))
        + F.pow(d, 2) / (2.0 * (F.col("n_a") + F.col("n_b") - 2))
    )
    return m.select(
        "n_a",
        "n_b",
        F.round(mean_a, 2).alias("mean_a"),
        F.round(mean_b, 2).alias("mean_b"),
        F.round(sd_pooled, 2).alias("sd_pooled"),
        F.round(d, 6).alias("cohens_d"),
        F.round(j * d, 6).alias("hedges_g"),
        F.round(se, 6).alias("se_d"),
    )


@register(
    "stats_pacf_durbin_levinson",
    tags=("stats", "temporal"),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(c) * 1e0 / count(*) AS xbar
  FROM daily
), lagged AS (
  SELECT c,
         lag(c, 1) OVER (ORDER BY d) AS l1,
         lag(c, 2) OVER (ORDER BY d) AS l2,
         lag(c, 3) OVER (ORDER BY d) AS l3
  FROM daily
), sums AS (
  SELECT max(b.n) AS n,
         sum((c - xbar) * (c - xbar)) AS den,
         sum(CASE WHEN l1 IS NOT NULL THEN (c - xbar) * (l1 - xbar) END) AS s1,
         sum(CASE WHEN l2 IS NOT NULL THEN (c - xbar) * (l2 - xbar) END) AS s2,
         sum(CASE WHEN l3 IS NOT NULL THEN (c - xbar) * (l3 - xbar) END) AS s3
  FROM lagged, base b GROUP BY xbar
), rho AS (
  SELECT n, s1 / den AS r1, s2 / den AS r2, s3 / den AS r3 FROM sums
), dl AS (
  SELECT n, r1, r2, r3,
         (r2 - r1 * r1) / (1 - r1 * r1) AS p2,
         r1 * (1 - (r2 - r1 * r1) / (1 - r1 * r1)) AS phi21
  FROM rho
)
SELECT n AS n_days,
       round(r1, 6) AS rho_1, round(r2, 6) AS rho_2, round(r3, 6) AS rho_3,
       round(r1, 6) AS pacf_1,
       round(p2, 6) AS pacf_2,
       round((r3 - phi21 * r2 - p2 * r1) / (1 - phi21 * r1 - p2 * r2), 6)
         AS pacf_3,
       round(1.96 / sqrt(n), 6) AS conf_band
FROM dl
""",
)
def stats_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1-3 via the Durbin-Levinson recursion UNROLLED to closed form —
    the AR-order diagnostic [[stats_autocorrelation]] can't give: ACF
    tails off under any AR process, PACF cuts off sharply at the true
    order p (phi_kk is the lag-k coefficient after regressing out lags
    1..k-1). Bounded recursion depth makes DL pure algebra:
    phi_11 = rho1; phi_22 = (rho2 - rho1^2)/(1 - rho1^2);
    phi_33 = (rho3 - phi_21 rho2 - phi_22 rho1)
             / (1 - phi_21 rho1 - phi_22 rho2), phi_21 = rho1(1-phi_22).
    Autocorrelations use the proper single-mean/TSS-denominator
    estimator (the [[stats_ljung_box]] discipline, one pass over the
    day series), and the +-1.96/sqrt(n) band says which spikes matter.

    Scale: the fact scan reduces to day cardinality in one
    map-side-combined agg; the lag window and every DL step are
    constant-size algebra on the bounded day series."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    base = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("c") * 1.0 / F.count(F.lit(1))).alias("xbar"),
    )
    w = Window.orderBy("d")  # frame: bounded (day-grain)
    lagged = daily.select(
        "c", *[F.lag("c", k).over(w).alias(f"l{k}") for k in (1, 2, 3)]
    )
    dev = lagged.crossJoin(F.broadcast(base))
    sums = dev.groupBy("xbar").agg(
        F.max("n").alias("n"),
        F.sum((F.col("c") - F.col("xbar")) * (F.col("c") - F.col("xbar"))).alias("den"),
        *[
            F.sum(
                F.when(
                    F.col(f"l{k}").isNotNull(),
                    (F.col("c") - F.col("xbar")) * (F.col(f"l{k}") - F.col("xbar")),
                )
            ).alias(f"s{k}")
            for k in (1, 2, 3)
        ],
    )
    rho = sums.select(
        "n",
        (F.col("s1") / F.col("den")).alias("r1"),
        (F.col("s2") / F.col("den")).alias("r2"),
        (F.col("s3") / F.col("den")).alias("r3"),
    )
    p2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    dl = rho.select(
        "n", "r1", "r2", "r3", p2.alias("p2"), (F.col("r1") * (1 - p2)).alias("phi21")
    )
    p3 = (
        F.col("r3") - F.col("phi21") * F.col("r2") - F.col("p2") * F.col("r1")
    ) / (1 - F.col("phi21") * F.col("r1") - F.col("p2") * F.col("r2"))
    return dl.select(
        F.col("n").alias("n_days"),
        F.round("r1", 6).alias("rho_1"),
        F.round("r2", 6).alias("rho_2"),
        F.round("r3", 6).alias("rho_3"),
        F.round("r1", 6).alias("pacf_1"),
        F.round("p2", 6).alias("pacf_2"),
        F.round(p3, 6).alias("pacf_3"),
        F.round(1.96 / F.sqrt("n"), 6).alias("conf_band"),
    )


@register(
    "stats_decision_stump",
    tags=("stats", "ml"),
    oracle="""
WITH s AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
), grain AS (
  SELECT q, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM s GROUP BY q
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS np
  FROM grain
), cum AS (
  SELECT q AS threshold,
         sum(n) OVER (ORDER BY q) AS nl,
         sum(pos) OVER (ORDER BY q) AS pl
  FROM grain
), scored AS (
  SELECT threshold, nl, nn - nl AS nr, pl, np - pl AS pr,
         (CAST(pl AS DOUBLE) * pl + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl
         + (CAST(np - pl AS DOUBLE) * (np - pl)
            + CAST((nn - nl) - (np - pl) AS DOUBLE) * ((nn - nl) - (np - pl)))
           / (nn - nl) AS purity
  FROM cum, tot WHERE nl < nn
), parent AS (
  SELECT 1e0 - (CAST(np AS DOUBLE) * np + CAST(nn - np AS DOUBLE) * (nn - np))
               / (CAST(nn AS DOUBLE) * nn) AS gini_parent
  FROM tot
)
SELECT threshold, CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       CAST(pl AS BIGINT) AS pos_left, CAST(pr AS BIGINT) AS pos_right,
       round(gini_parent, 6) AS gini_parent,
       round(1e0 - purity / (SELECT nn FROM tot) * 1e0
             / 1, 9) AS weighted_gini_check,
       round((SELECT nn FROM tot) - purity, 6) AS split_cost,
       CAST(row_number() OVER (ORDER BY purity DESC, threshold) AS BIGINT)
         AS gain_rank
FROM scored, parent
""",
)
def stats_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-split search for a depth-1 decision tree (CART
    stump) predicting returned-flag from quantity — the one-feature
    answer to "where does the class actually separate", and the
    primitive every gradient-boosting iteration re-runs millions of
    times. The threshold sweep is the textbook cumulative trick: one
    agg to the bounded quantity grain, prefix sums give every split's
    (n, positives) on both sides, and minimizing weighted Gini
    nL*G_L + nR*G_R is MAXIMIZING purity = (pl^2+(nl-pl)^2)/nl +
    (pr^2+(nr-pr)^2)/nr — computed per threshold from exact integers
    with no aggregation, so both engines produce bit-identical doubles
    and the argmax rank can never flip on a ulp (the ranking-flip
    hazard [[retrieval_rocchio_prf]] documents). Emitted: the full
    49-row threshold sheet with split cost and rank (gain_rank=1 is
    the stump), so downstream sees the whole gain curve, not one
    winner.

    Scale: one map-side-combined exchange to the <=50-row quantity
    grain; everything after is constant-size window algebra. The same
    shape handles any feature whose grain is bounded (bucketize first
    otherwise — the histogram-split approximation LightGBM uses)."""
    from pyspark.sql import Window as W

    s = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    grain = s.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = grain.agg(
        F.sum("n").cast("bigint").alias("nn"), F.sum("pos").cast("bigint").alias("np")
    )
    w = W.orderBy("q")  # frame: bounded (<=50-value quantity grain)
    cum = grain.select(
        F.col("q").alias("threshold"),
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
    )
    j = cum.crossJoin(F.broadcast(tot)).where(F.col("nl") < F.col("nn"))
    nr = F.col("nn") - F.col("nl")
    pr = F.col("np") - F.col("pl")
    negl = F.col("nl") - F.col("pl")
    negr = nr - pr
    purity = (
        F.col("pl").cast("double") * F.col("pl") + negl.cast("double") * negl
    ) / F.col("nl") + (pr.cast("double") * pr + negr.cast("double") * negr) / nr
    gini_parent = 1.0 - (
        F.col("np").cast("double") * F.col("np")
        + (F.col("nn") - F.col("np")).cast("double") * (F.col("nn") - F.col("np"))
    ) / (F.col("nn").cast("double") * F.col("nn"))
    scored = j.select(
        "threshold",
        F.col("nl").cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        F.col("pl").cast("bigint").alias("pos_left"),
        pr.cast("bigint").alias("pos_right"),
        F.round(gini_parent, 6).alias("gini_parent"),
        F.round(1.0 - purity / F.col("nn") / 1, 9).alias("weighted_gini_check"),
        F.round(F.col("nn") - purity, 6).alias("split_cost"),
        purity.alias("_p"),
    )
    return scored.withColumn(
        "gain_rank",
        F.row_number()
        .over(W.orderBy(F.col("_p").desc(), "threshold"))  # frame: bounded (<=50-value quantity grain)
        .cast("bigint"),
    ).drop("_p")


@register(
    "stats_cronbach_alpha",
    tags=("stats", "measurement"),
    oracle=f"""
WITH items AS (
  SELECT c_custkey,
         {to_cents_sql("c_acctbal")}
           + ({md5_int_sql("'cb1-' || c_custkey", 8)}
              % 20001) - 10000 AS i1,
         {to_cents_sql("c_acctbal")}
           + ({md5_int_sql("'cb2-' || c_custkey", 8)}
              % 20001) - 10000 AS i2,
         {to_cents_sql("c_acctbal")}
           + ({md5_int_sql("'cb3-' || c_custkey", 8)}
              % 20001) - 10000 AS i3,
         {to_cents_sql("c_acctbal")}
           + ({md5_int_sql("'cb4-' || c_custkey", 8)}
              % 20001) - 10000 AS i4
  FROM customer
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(i1 AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(i1 AS HUGEINT) * i1) AS HUGEINT) AS q1,
         CAST(sum(CAST(i2 AS HUGEINT)) AS HUGEINT) AS s2,
         CAST(sum(CAST(i2 AS HUGEINT) * i2) AS HUGEINT) AS q2,
         CAST(sum(CAST(i3 AS HUGEINT)) AS HUGEINT) AS s3,
         CAST(sum(CAST(i3 AS HUGEINT) * i3) AS HUGEINT) AS q3,
         CAST(sum(CAST(i4 AS HUGEINT)) AS HUGEINT) AS s4,
         CAST(sum(CAST(i4 AS HUGEINT) * i4) AS HUGEINT) AS q4,
         CAST(sum(CAST(i1 + i2 + i3 + i4 AS HUGEINT)) AS HUGEINT) AS st,
         CAST(sum(CAST(i1 + i2 + i3 + i4 AS HUGEINT) * (i1 + i2 + i3 + i4))
              AS HUGEINT) AS qt
  FROM items
), v AS (
  SELECT n,
         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS v1,
         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1) AS v2,
         (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n) / (n - 1) AS v3,
         (CAST(q4 AS DOUBLE) - CAST(s4 AS DOUBLE) * s4 / n) / (n - 1) AS v4,
         (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) / (n - 1) AS vt
  FROM m
)
SELECT n AS n_subjects,
       CAST(4 AS BIGINT) AS k_items,
       round((v1 + v2 + v3 + v4) / vt, 6) AS item_variance_share,
       round(4e0 / 3 * (1 - (v1 + v2 + v3 + v4) / vt), 6) AS cronbach_alpha
FROM v
""",
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient for a 4-item
    scale measuring one latent trait — the reliability number the
    measurement family was missing: [[stats_cohens_kappa]] /
    [[stats_krippendorff_alpha]] score RATER agreement on labels,
    [[stats_bland_altman]] scores two instruments' disagreement; this
    scores whether k numeric items cohere enough to SUM into a scale
    (alpha >= 0.7 is the conventional bar). Items are the repo's
    deterministic md5-noise instruments around a shared per-customer
    truth, so the expected alpha is analytically ~var(truth)*16 /
    (var(truth)*16 + 4*var(noise)) — strongly consistent by
    construction — and every moment accumulates as exact integer cents
    in decimal(38,0)/HUGEINT before the one division into doubles
    (the [[stats_cohens_d_effect]] discipline).

    Scale: one scan, one 11-number moment agg with map-side combine,
    constant algebra after."""
    truth = to_cents("c_acctbal")

    def item(j: int):
        key = F.concat(F.lit(f"cb{j}-"), F.col("c_custkey").cast("string"))
        coin = md5_int(key, 8) % 20001 - 10000
        return (truth + coin).alias(f"i{j}")

    items = load_table(spark, sf_dir, "customer").select(
        "c_custkey", item(1), item(2), item(3), item(4)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for j in (1, 2, 3, 4):
        c = F.col(f"i{j}")
        aggs.append(F.sum(dec(c)).alias(f"s{j}"))
        aggs.append(F.sum(dec(c) * c).alias(f"q{j}"))
    aggs.append(F.sum(dec(tot)).alias("st"))
    aggs.append(F.sum(dec(tot) * tot).alias("qt"))
    m = items.agg(*aggs)

    def var(s: str, q: str):
        return (
            F.col(q).cast("double")
            - F.col(s).cast("double") * F.col(s) / F.col("n")
        ) / (F.col("n") - 1)

    vsum = var("s1", "q1") + var("s2", "q2") + var("s3", "q3") + var("s4", "q4")
    vt = var("st", "qt")
    return m.select(
        F.col("n").alias("n_subjects"),
        F.lit(4).cast("bigint").alias("k_items"),
        F.round(vsum / vt, 6).alias("item_variance_share"),
        F.round(4.0 / 3 * (1 - vsum / vt), 6).alias("cronbach_alpha"),
    )


@register(
    "stats_erlang_c_staffing",
    tags=("stats", "queueing"),
    oracle="""
WITH RECURSIVE hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(count(*) AS BIGINT) AS arrivals
  FROM events WHERE event_type = 'click' GROUP BY 1
), busy AS (
  SELECT arrivals FROM hourly ORDER BY arrivals DESC, h LIMIT 1
), load AS (
  SELECT arrivals,
         arrivals / 3600e0 * 120e0 AS a
  FROM busy
), servers AS (
  SELECT unnest(generate_series(0, 5)) AS extra
), terms AS (
  SELECT CAST(0 AS BIGINT) AS k, 1e0 AS t, 0e0 AS s FROM load
  UNION ALL
  SELECT tr.k + 1, tr.t * l.a / (tr.k + 1), tr.s + tr.t
  FROM terms tr, load l
  WHERE tr.k < CAST(floor(l.a) AS BIGINT) + 6
), calc AS (
  SELECT l.arrivals, l.a,
         CAST(floor(l.a) + 1 + s.extra AS BIGINT) AS c
  FROM load l CROSS JOIN servers s
), joined AS (
  SELECT calc.c, calc.a, tr.t AS top, tr.s AS partial_sum
  FROM calc JOIN terms tr ON tr.k = calc.c
)
SELECT c, round(a, 4) AS offered_erlangs,
       round(a / c, 6) AS utilization,
       round(top / ((1 - a / c) * partial_sum + top), 6) AS p_wait,
       round(top / ((1 - a / c) * partial_sum + top) * 120 / (c - a), 4)
         AS asa_seconds,
       round(1 - top / ((1 - a / c) * partial_sum + top)
                 * exp(-(c - a) * 20 / 120e0), 6) AS service_level_20s
FROM joined
""",
)
def stats_erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang C staffing table from the measured busy hour — the
    capacity-planning question [[events_littles_law_audit]]'s
    steady-state identity sets up but can't answer: given the peak
    click arrival rate and a 120 s mean handle time (offered load
    a = lambda * AHT Erlangs), what waiting probability, average speed
    of answer, and 20-second service level does each candidate server
    count c = floor(a)+1 .. floor(a)+6 buy? (floor+1 keeps c > a even
    when the load lands on an integer — c = a is an unstable queue and
    a divide-by-zero in the ASA.) The M/M/c math is bounded algebra:
    a^k/k! as a RUNNING PRODUCT t_k = t_{k-1} * a / k with the partial
    sum s_k = s_{k-1} + t_{k-1} carried in the same sequential step
    (ADVICE r5: Spark's factorial() NULLs past 20! and DuckDB's
    hard-errors past 33!, so pow/factorial had a silent scale cliff at
    a >= ~20 Erlangs; the ratio recurrence has no range limit), with
    identical op order on both engines — a struct F.aggregate fold on
    Spark (snapshot semantics), a RECURSIVE CTE on DuckDB (the
    [[temporal_holt_smoothing]] discipline, dodging list_reduce's
    in-place struct hazard) — and the busy hour is an integer-count
    argmax with an hour tiebreak.

    Scale: the fact scan collapses to hour cardinality in one
    map-side-combined agg; the staffing lattice is 6 rows of constant
    algebra. Per-queue tables (by region, by skill) would groupBy the
    queue key around the same shape."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("arrivals")
    )
    busy = hourly.orderBy(F.col("arrivals").desc(), "h").limit(1).select("arrivals")
    load = busy.select("arrivals", (F.col("arrivals") / 3600.0 * 120.0).alias("a"))
    servers = spark.range(6).select(F.col("id").alias("extra"))
    calc = load.crossJoin(F.broadcast(servers)).select(
        "arrivals",
        "a",
        (F.floor("a") + 1 + F.col("extra")).cast("bigint").alias("c"),
    )
    calc = (
        calc.withColumn(
            "st",
            F.expr(
                "aggregate(sequence(1, cast(c as int)), "
                "named_struct('t', cast(1.0 as double), 's', cast(0.0 as double)), "
                "(acc, k) -> named_struct('t', acc.t * a / k, 's', acc.s + acc.t))"
            ),
        )
        .withColumn("top", F.col("st.t"))
        .withColumn("partial_sum", F.col("st.s"))
    )
    erl = F.col("top") / (
        (1 - F.col("a") / F.col("c")) * F.col("partial_sum") + F.col("top")
    )
    return calc.select(
        "c",
        F.round("a", 4).alias("offered_erlangs"),
        F.round(F.col("a") / F.col("c"), 6).alias("utilization"),
        F.round(erl, 6).alias("p_wait"),
        F.round(erl * 120 / (F.col("c") - F.col("a")), 4).alias("asa_seconds"),
        F.round(
            1 - erl * F.exp(-(F.col("c") - F.col("a")) * 20 / 120.0), 6
        ).alias("service_level_20s"),
    )


@register(
    "stats_fleiss_kappa",
    tags=("stats", "measurement"),
    oracle=f"""
WITH ratings AS (
  SELECT d.doc_id, r.rater,
         CASE WHEN ({md5_int_sql("'fk' || r.rater || '-' || d.doc_id", 8)} % 10) < 7
              THEN d.source
              ELSE 'src'
                   || CAST({md5_int_sql("'fk' || r.rater || '-' || d.doc_id", 8, start=9)} % 4
                           AS VARCHAR)
         END AS cat
  FROM documents d
  CROSS JOIN (SELECT unnest(range(5)) AS rater) r
), cell AS (
  SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS nij
  FROM ratings GROUP BY 1, 2
), per_item AS (
  SELECT doc_id, CAST(sum(nij * (nij - 1)) AS BIGINT) AS agree_pairs
  FROM cell GROUP BY doc_id
), po AS (
  SELECT sum(agree_pairs) * 1e0 / (count(*) * 5 * 4) AS p_o,
         CAST(count(*) AS BIGINT) AS n_items
  FROM per_item
), pe AS (
  SELECT sum(pj * pj) AS p_e FROM (
    SELECT sum(nij) * 1e0 / (SELECT n_items * 5 FROM po) AS pj
    FROM cell GROUP BY cat
  )
)
SELECT n_items,
       CAST(5 AS BIGINT) AS n_raters,
       round(p_o, 6) AS p_observed,
       round(p_e, 6) AS p_expected,
       round((p_o - p_e) / (1 - p_e), 6) AS fleiss_kappa
FROM po, pe
""",
)
def stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa for FIVE raters assigning each document one of
    the source categories — the multi-rater generalization the
    agreement family needed: [[stats_cohens_kappa]] handles exactly two
    raters, [[stats_krippendorff_alpha]] handles missing ratings and
    metric distances; Fleiss is the standard fixed-panel categorical
    form (every labeling-QA dashboard reports it). Raters are the
    repo's deterministic md5 annotators: 70% faithful to the document's
    true source, else a uniform md5 category — so expected agreement
    is analytically moderate and the emitted kappa lands in the
    'substantial' band by construction. P_o sums the exact integer
    agreeing-pair counts n_ij(n_ij-1) over the (item, category) cells;
    P_e sums squared category shares — every input an exact integer
    ratio, one final division, 6dp rounding (the repo's float
    discipline).

    Scale: the ratings frame is 5x documents, collapsed by TWO
    map-side-combined aggs (item cells, category totals); no window,
    no join wider than the category list."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    raters = spark.range(5).select(F.col("id").alias("rater"))
    key = F.concat(
        F.lit("fk"), F.col("rater").cast("string"), F.lit("-"),
        F.col("doc_id").cast("string"),
    )
    faithful = md5_int(key, 8) % 10 < 7
    noise_cat = F.concat(F.lit("src"), (md5_int(key, 8, start=9) % 4).cast("string"))
    ratings = docs.crossJoin(F.broadcast(raters)).select(
        "doc_id",
        "rater",
        F.when(faithful, F.col("source")).otherwise(noise_cat).alias("cat"),
    )
    cell = ratings.groupBy("doc_id", "cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    per_item = cell.groupBy("doc_id").agg(
        F.sum(F.col("nij") * (F.col("nij") - 1)).cast("bigint").alias("agree_pairs")
    )
    po = per_item.agg(
        (F.sum("agree_pairs") * 1.0 / (F.count(F.lit(1)) * 5 * 4)).alias("p_o"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )
    pj = (
        cell.groupBy("cat")
        .agg(F.sum("nij").cast("bigint").alias("nj"))
        .crossJoin(F.broadcast(po.select("n_items")))
        .select((F.col("nj") * 1.0 / (F.col("n_items") * 5)).alias("pj"))
    )
    pe = pj.agg(F.sum(F.col("pj") * F.col("pj")).alias("p_e"))
    return po.crossJoin(pe).select(
        "n_items",
        F.lit(5).cast("bigint").alias("n_raters"),
        F.round("p_o", 6).alias("p_observed"),
        F.round("p_e", 6).alias("p_expected"),
        F.round((F.col("p_o") - F.col("p_e")) / (1 - F.col("p_e")), 6).alias(
            "fleiss_kappa"
        ),
    )


@register(
    "stats_vif_multicollinearity",
    tags=("stats", "regression"),
    oracle="""
WITH s AS (
  SELECT CAST(l_quantity AS HUGEINT) AS x1,
         CAST(round(l_extendedprice * 100) AS HUGEINT) AS x2,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS HUGEINT) AS x3
  FROM lineitem
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
         sum(x1 * x1) AS q1, sum(x2 * x2) AS q2, sum(x3 * x3) AS q3,
         sum(x1 * x2) AS p12, sum(x1 * x3) AS p13, sum(x2 * x3) AS p23
  FROM s
), r AS (
  SELECT n,
         (CAST(p12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n)
           / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  * (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)) AS r12,
         (CAST(p13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3 / n)
           / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  * (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n)) AS r13,
         (CAST(p23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3 / n)
           / sqrt((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n)
                  * (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n)) AS r23
  FROM m
), r2 AS (
  SELECT n, r12, r13, r23,
         (r12 * r12 + r13 * r13 - 2 * r12 * r13 * r23) / (1 - r23 * r23) AS r2_1,
         (r12 * r12 + r23 * r23 - 2 * r12 * r23 * r13) / (1 - r13 * r13) AS r2_2,
         (r13 * r13 + r23 * r23 - 2 * r13 * r23 * r12) / (1 - r12 * r12) AS r2_3
  FROM r
)
SELECT feat, round(r2_on_others, 6) AS r2_on_others,
       round(1e0 / (1 - r2_on_others), 6) AS vif,
       CAST(CASE WHEN 1e0 / (1 - r2_on_others) > 5 THEN 1 ELSE 0 END AS BIGINT)
         AS collinear_flag
FROM (
  SELECT 'l_quantity' AS feat, r2_1 AS r2_on_others FROM r2
  UNION ALL
  SELECT 'l_extendedprice', r2_2 FROM r2
  UNION ALL
  SELECT 'l_net_revenue', r2_3 FROM r2
)
""",
)
def stats_vif_multicollinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-inflation factors for the three lineitem features a
    pricing regression would feed — the multicollinearity screen that
    belongs BEFORE [[stats_ols_two_feature]] / the residual diagnostics:
    VIF_i = 1/(1 - R^2_i) where R^2_i regresses feature i on the other
    two, closed-form from the 3x3 correlation matrix (R^2_1 = (r12^2 +
    r13^2 - 2 r12 r13 r23)/(1 - r23^2) and rotations) — no iterative
    fit, and the confounder-adjustment algebra is the same first-order
    identity [[stats_partial_correlation]] uses. VIF > 5 flags the
    feature whose coefficient's variance is inflated 5x by redundancy
    (quantity and extended price are strongly collinear BY CONSTRUCTION
    here — price ~ quantity x unit price — and the flag column proves
    the screen catches it). All nine co-moments accumulate as exact
    integers in one pass (decimal(38,0)/HUGEINT), then constant
    algebra.

    Scale: one scan, one 10-number moment agg, 3-row output."""
    s = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(38,0)").alias("x1"),
        F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)").alias("x2"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("decimal(38,0)")
        .alias("x3"),
    )
    m = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"), F.sum("x3").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).alias("q1"),
        F.sum(F.col("x2") * F.col("x2")).alias("q2"),
        F.sum(F.col("x3") * F.col("x3")).alias("q3"),
        F.sum(F.col("x1") * F.col("x2")).alias("p12"),
        F.sum(F.col("x1") * F.col("x3")).alias("p13"),
        F.sum(F.col("x2") * F.col("x3")).alias("p23"),
    )

    def corr(p, sa, sb, qa, qb):
        return (
            F.col(p).cast("double") - F.col(sa).cast("double") * F.col(sb) / F.col("n")
        ) / F.sqrt(
            (F.col(qa).cast("double") - F.col(sa).cast("double") * F.col(sa) / F.col("n"))
            * (F.col(qb).cast("double") - F.col(sb).cast("double") * F.col(sb) / F.col("n"))
        )

    r = m.select(
        "n",
        corr("p12", "s1", "s2", "q1", "q2").alias("r12"),
        corr("p13", "s1", "s3", "q1", "q3").alias("r13"),
        corr("p23", "s2", "s3", "q2", "q3").alias("r23"),
    )

    def r2(rab, rac, rbc):
        return (
            F.col(rab) * F.col(rab)
            + F.col(rac) * F.col(rac)
            - 2 * F.col(rab) * F.col(rac) * F.col(rbc)
        ) / (1 - F.col(rbc) * F.col(rbc))

    r2f = r.select(
        r2("r12", "r13", "r23").alias("r2_1"),
        r2("r12", "r23", "r13").alias("r2_2"),
        r2("r13", "r23", "r12").alias("r2_3"),
    )
    rows = None
    for feat, col in (
        ("l_quantity", "r2_1"),
        ("l_extendedprice", "r2_2"),
        ("l_net_revenue", "r2_3"),
    ):
        one = r2f.select(
            F.lit(feat).alias("feat"),
            F.round(F.col(col), 6).alias("r2_on_others"),
            F.round(1.0 / (1 - F.col(col)), 6).alias("vif"),
            (1.0 / (1 - F.col(col)) > 5).cast("bigint").alias("collinear_flag"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows


MARKOV_REMOVABLE = ("click", "view", "signup", "error")


def _markov_pconv_block(suffix: str, where: str, k_steps: int = 8) -> str:
    """One channel-filtered absorption chain ending in a scalar
    (channel, p_conv) row: filtered lead -> transition probs -> k
    unrolled matrix-vector steps -> first-state-weighted conversion."""
    steps = []
    prev = f"a0{suffix}"
    for k in range(1, k_steps + 1):
        steps.append(f"""
, x{k}{suffix} AS (
  SELECT p.src AS state, sum(p.prob * v.p) AS p
  FROM p{suffix} p JOIN {prev} v ON p.dst = v.state
  GROUP BY p.src
), a{k}{suffix} AS (
  SELECT s.state,
         CASE WHEN s.state = 'purchase' THEN 1.0
              ELSE coalesce(x.p, 0.0) END AS p
  FROM states{suffix} s LEFT JOIN x{k}{suffix} x ON s.state = x.state
)""")
        prev = f"a{k}{suffix}"
    return f"""
, ev{suffix} AS (
  SELECT user_id, ts, event_id, event_type FROM events {where}
), ordered{suffix} AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM ev{suffix}
), trans{suffix} AS (
  SELECT event_type AS src, next_type AS dst, count(*) AS c
  FROM ordered{suffix}
  WHERE next_type IS NOT NULL AND event_type <> 'purchase'
  GROUP BY 1, 2
), out_tot{suffix} AS (
  SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM trans{suffix} GROUP BY src
), p{suffix} AS (
  SELECT t.src, t.dst, t.c * 1.0 / o.tot AS prob
  FROM trans{suffix} t JOIN out_tot{suffix} o ON t.src = o.src
), states{suffix} AS (
  SELECT DISTINCT event_type AS state FROM ev{suffix}
), a0{suffix} AS (
  SELECT state, CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS p
  FROM states{suffix}
){''.join(steps)}
, first{suffix} AS (
  SELECT event_type AS state, CAST(count(*) AS BIGINT) AS u
  FROM ordered{suffix} WHERE rn = 1 GROUP BY 1
), conv{suffix} AS (
  SELECT sum(f.u * a.p) / sum(f.u) AS p_conv
  FROM first{suffix} f JOIN {prev} a ON f.state = a.state
)"""


def _markov_removal_oracle() -> str:
    blocks = [_markov_pconv_block("_base", "")]
    rows = ["SELECT '(none)' AS channel_removed, p_conv FROM conv_base"]
    for ch in MARKOV_REMOVABLE:
        sfx = f"_{ch}"
        blocks.append(
            _markov_pconv_block(sfx, f"WHERE event_type <> '{ch}'")
        )
        rows.append(f"SELECT '{ch}', p_conv FROM conv{sfx}")
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH dummy AS (SELECT 1){''.join(blocks)}
, allrows AS ({union})
, based AS (
  SELECT a.channel_removed, a.p_conv,
         (SELECT p_conv FROM allrows WHERE channel_removed = '(none)') AS pb
  FROM allrows a
), eff AS (
  SELECT channel_removed, p_conv, pb,
         CASE WHEN channel_removed = '(none)' THEN 0.0
              ELSE greatest(1.0 - p_conv / pb, 0.0) END AS re
  FROM based
)
SELECT channel_removed,
       round(p_conv, 6) AS p_conv_8,
       round(re, 6) AS removal_effect,
       round(CASE WHEN channel_removed = '(none)' THEN 0.0
                  ELSE coalesce(re / nullif((SELECT sum(re) FROM eff), 0),
                                0.0) END, 6)
         AS attribution_share
FROM eff
"""


@register(
    "events_markov_removal_attribution",
    tags=("events", "analytics", "iterative"),
    oracle=_markov_removal_oracle(),
)
def events_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016) — the
    data-driven multi-touch model that the heuristic ledgers
    ([[events_attribution_linear]] equal splits,
    [[events_attribution_position]] U-shaped) approximate by fiat: for
    each channel, DELETE its events, re-link every user's journey
    across the gap (the lead() window AFTER the filter does exactly
    that), re-solve the 8-step absorbing-chain conversion probability
    from the first-touch distribution, and credit the channel with
    removal_effect = 1 - P_conv^(-c)/P_conv, normalized into
    attribution shares. Reuses [[stats_markov_absorption]]'s bounded
    unrolled matrix-vector ladder — no convergence tolerance — once
    per removable channel plus the baseline (5 chains, each on
    state-cardinality frames).

    Scale: per chain, the only data-sized work is one filtered window
    scan and one (src, dst) count agg (map-side combined); the 8-step
    ladders run on <=6-state frames. 5 passes over events could fuse
    into one scan emitting per-removal transition counts via a
    channels x transitions explode if the scan ever dominates — noted,
    not needed at this state count."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )

    def p_conv(filtered):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ordered = filtered.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
            F.row_number().over(w).alias("rn"),
        ).localCheckpoint(eager=True)
        trans = (
            ordered.where(
                F.col("next_type").isNotNull() & (F.col("event_type") != "purchase")
            )
            .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        out_tot = trans.groupBy("src").agg(F.sum("c").alias("tot"))
        p = trans.join(out_tot, "src").select(
            "src", "dst", (F.col("c") * 1.0 / F.col("tot")).alias("prob")
        ).localCheckpoint(eager=True)
        states = filtered.select(
            F.col("event_type").alias("state")
        ).distinct().localCheckpoint(eager=True)
        v = states.select(
            "state",
            F.when(F.col("state") == "purchase", 1.0).otherwise(0.0).alias("p"),
        )
        # r10 (guide §1.2): the 8-step ladder runs on ≤6-state frames
        # whose inputs (p, states) are ALREADY checkpointed — the old
        # per-step localCheckpoint turned each of the 8 steps × 5 chains
        # into its own eager job (40 scheduler round-trips of ~0.2s
        # each dominating the query). v is referenced once per step, so
        # lineage grows linearly, not exponentially: the whole ladder
        # now folds into the chain's single final plan. Same arithmetic,
        # same join/agg per step — hash-green at sf0.01/sf0.1; 13.9s →
        # ~4s at sf0.1.
        for _ in range(8):
            x = (
                p.join(v.select(F.col("state").alias("dst"), "p"), "dst")
                .groupBy(F.col("src").alias("state"))
                .agg(F.sum(F.col("prob") * F.col("p")).alias("xp"))
            )
            v = states.join(x, "state", "left").select(
                "state",
                F.when(F.col("state") == "purchase", 1.0)
                .otherwise(F.coalesce("xp", F.lit(0.0)))
                .alias("p"),
            )
        first = (
            ordered.where(F.col("rn") == 1)
            .groupBy(F.col("event_type").alias("state"))
            .agg(F.count(F.lit(1)).alias("u"))
        )
        return first.join(v, "state").agg(
            (F.sum(F.col("u") * F.col("p")) / F.sum("u")).alias("p_conv")
        )

    # r10 (guide §2.6 — overlap independent jobs): each chain's three
    # eager checkpoints (ordered/p/states) are independent driver
    # actions; building the five chains from a small thread pool
    # overlaps those 15 materialization jobs instead of running them
    # back to back (the ladders themselves already run inside the one
    # final job). Frames and plans are unchanged — same checkpoints,
    # same union — hash-green at sf0.01/sf0.1.
    from concurrent.futures import ThreadPoolExecutor

    labels = ["(none)"] + list(MARKOV_REMOVABLE)

    def chain(ch: str):
        filtered = ev if ch == "(none)" else ev.where(F.col("event_type") != ch)
        return p_conv(filtered).select(
            F.lit(ch).alias("channel_removed"), "p_conv"
        )

    with ThreadPoolExecutor(max_workers=len(labels)) as pool:
        frames = list(pool.map(chain, labels))
    rows = frames[0]
    for fr in frames[1:]:
        rows = rows.unionByName(fr)
    rows = rows.localCheckpoint(eager=True)
    base = rows.where(F.col("channel_removed") == "(none)").select(
        F.col("p_conv").alias("pb")
    )
    eff = rows.crossJoin(F.broadcast(base)).select(
        "channel_removed",
        "p_conv",
        F.when(F.col("channel_removed") == "(none)", 0.0)
        .otherwise(F.greatest(1.0 - F.col("p_conv") / F.col("pb"), F.lit(0.0)))
        .alias("re"),
    )
    tot = eff.agg(F.sum("re").alias("tot_re"))
    return eff.crossJoin(F.broadcast(tot)).select(
        "channel_removed",
        F.round("p_conv", 6).alias("p_conv_8"),
        F.round("re", 6).alias("removal_effect"),
        F.round(
            F.when(F.col("channel_removed") == "(none)", 0.0).otherwise(
                F.coalesce(
                    F.col("re") / F.nullif(F.col("tot_re"), F.lit(0.0)),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("attribution_share"),
    )


@register(
    "stats_weibull_fit",
    tags=("stats", "survival"),
    oracle="""
WITH lat AS (
  SELECT user_id,
         date_diff('second',
                   min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
                   min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
           AS t
  FROM events GROUP BY user_id
), pos AS (
  SELECT user_id, CAST(t AS BIGINT) AS t FROM lat WHERE t IS NOT NULL AND t > 0
), ranked AS (
  SELECT t,
         row_number() OVER (ORDER BY t, user_id) AS i,
         (SELECT CAST(count(*) AS BIGINT) FROM pos) AS n
  FROM pos
), xy AS (
  SELECT ln(t * 1e0) AS x,
         ln(-ln(1e0 - (i - 0.3) / (n + 0.4))) AS y
  FROM ranked
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy
), fit AS (
  SELECT n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS shape,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS icept,
         pow(n * sxy - sx * sy, 2)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
  FROM m
)
SELECT n AS n_users,
       round(shape, 4) AS weibull_shape,
       round(exp(-icept / shape), 2) AS weibull_scale_s,
       round(r2, 6) AS fit_r2,
       round(exp(-icept / shape) * pow(ln(2e0), 1e0 / shape), 2)
         AS median_ttc_s
FROM fit
""",
)
def stats_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of click-to-purchase latency by MEDIAN-RANK
    REGRESSION (the reliability engineer's probability-plot method):
    sort the n latencies, assign each the Bernard median rank
    F_i = (i-0.3)/(n+0.4), and regress ln(-ln(1-F)) on ln(t) — the
    Weibull CDF linearizes exactly, so slope IS the shape k and
    exp(-intercept/k) the scale lambda. Closed form, no MLE iteration.
    This parametrizes what [[stats_kaplan_meier]] leaves as a step
    curve: shape < 1 says conversion hazard FALLS with time (convert
    fast or never — the usual e-commerce verdict), shape > 1 says
    deliberation; the derived parametric median extrapolates beyond
    the observed steps. Ranks pin via (t, user_id), per-row logs are
    identical doubles on both engines, and the fit R^2 reports how
    Weibull the data actually is.

    Scale: one user-grain conditional agg; the median-rank index comes
    from the two-phase banded row_number (`ranks.two_phase_ordered`,
    VERDICT r7 #4 — no one-task sort over the user grain); then a
    6-number moment agg and scalar algebra."""
    from .ranks import two_phase_ordered

    ev = load_table(spark, sf_dir, "events")
    lat = ev.groupBy("user_id").agg(
        F.unix_timestamp(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("tp"),
        F.unix_timestamp(
            F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        ).alias("tc"),
    )
    pos = lat.select(
        "user_id", (F.col("tp") - F.col("tc")).cast("bigint").alias("t")
    ).where(F.col("t").isNotNull() & (F.col("t") > 0))
    n_tot = pos.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = two_phase_ordered(
        pos, (F.col("t") / 10000).cast("bigint"), ["t", "user_id"], rn="i"
    ).crossJoin(F.broadcast(n_tot))
    xy = ranked.select(
        F.log(F.col("t") * 1.0).alias("x"),
        F.log(-F.log(1.0 - (F.col("i") - 0.3) / (F.col("n") + 0.4))).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    icept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2) / (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.round(slope, 4).alias("weibull_shape"),
        F.round(F.exp(-icept / slope), 2).alias("weibull_scale_s"),
        F.round(r2, 6).alias("fit_r2"),
        F.round(
            F.exp(-icept / slope) * F.pow(F.log(F.lit(2.0)), 1.0 / slope), 2
        ).alias("median_ttc_s"),
    )


@register(
    "stats_beta_binomial_shrinkage",
    tags=("stats", "bayes"),
    oracle="""
WITH per_s AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS k
  FROM lineitem GROUP BY l_suppkey
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         avg(k * 1e0 / n) AS mu,
         (sum((k * 1e0 / n) * (k * 1e0 / n))
          - count(*) * avg(k * 1e0 / n) * avg(k * 1e0 / n))
           / (count(*) - 1) AS var_raw,
         avg(1e0 / n) AS mean_inv_n
  FROM per_s
), prior AS (
  SELECT n_groups, mu,
         greatest(var_raw - mu * (1 - mu) * mean_inv_n, 1e-6) AS tau2
  FROM mom
), ab AS (
  SELECT n_groups, mu, tau2,
         mu * (mu * (1 - mu) / tau2 - 1) AS alpha,
         (1 - mu) * (mu * (1 - mu) / tau2 - 1) AS beta
  FROM prior
), shrunk AS (
  SELECT s.l_suppkey, s.n, s.k,
         s.k * 1e0 / s.n AS raw_rate,
         (s.k + a.alpha) / (s.n + a.alpha + a.beta) AS eb_rate,
         a.alpha, a.beta, a.mu
  FROM per_s s, ab a
)
SELECT CAST((SELECT n_groups FROM ab) AS BIGINT) AS n_suppliers,
       round((SELECT mu FROM ab), 6) AS pooled_rate,
       round((SELECT alpha FROM ab), 4) AS prior_alpha,
       round((SELECT beta FROM ab), 4) AS prior_beta,
       CAST(count(*) FILTER (WHERE abs(eb_rate - mu) < abs(raw_rate - mu))
            AS BIGINT) AS n_shrunk_toward,
       round(max(abs(raw_rate - eb_rate)), 6) AS max_shift,
       round(corr(raw_rate, eb_rate), 6) AS raw_eb_corr
FROM shrunk
""",
)
def stats_beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-supplier return
    rates — the leaderboard-taming estimator: raw k/n rates from small
    suppliers swing wildly ([[stats_wilson_interval]] widens their
    CIs; this FIXES their point estimates), so fit a Beta(alpha, beta)
    prior to the BETWEEN-supplier moments (method of moments:
    tau^2 = var_raw - mu(1-mu)E[1/n] removes the binomial sampling
    component, then alpha = mu(mu(1-mu)/tau^2 - 1)) and report each
    supplier's posterior mean (k+alpha)/(n+alpha+beta) — big samples
    keep their data, small samples shrink toward the pool, which is
    exactly the James-Stein dominance story. The emitted summary pins
    the mechanics: every supplier moves TOWARD the pooled mean, the
    max shift is bounded, and raw-vs-EB stay strongly rank-correlated.

    Scale: one exchange to the supplier grain, one constant-size
    moment row broadcast back — the per-entity posterior is a codegen
    expression, so scoring a billion entities costs one map pass."""
    per_s = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_if(F.col("l_returnflag") == "R").cast("bigint").alias("k"),
        )
    )
    rate = F.col("k") * 1.0 / F.col("n")
    mom = per_s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.avg(rate).alias("mu"),
        (
            (F.sum(rate * rate) - F.count(F.lit(1)) * F.avg(rate) * F.avg(rate))
            / (F.count(F.lit(1)) - 1)
        ).alias("var_raw"),
        F.avg(1.0 / F.col("n")).alias("mean_inv_n"),
    )
    prior = mom.select(
        "n_groups",
        "mu",
        F.greatest(
            F.col("var_raw") - F.col("mu") * (1 - F.col("mu")) * F.col("mean_inv_n"),
            F.lit(1e-6),
        ).alias("tau2"),
    )
    ab = prior.select(
        "n_groups",
        "mu",
        (F.col("mu") * (F.col("mu") * (1 - F.col("mu")) / F.col("tau2") - 1)).alias(
            "alpha"
        ),
        (
            (1 - F.col("mu"))
            * (F.col("mu") * (1 - F.col("mu")) / F.col("tau2") - 1)
        ).alias("beta"),
    )
    shrunk = per_s.crossJoin(F.broadcast(ab)).select(
        "n_groups",
        "mu",
        "alpha",
        "beta",
        rate.alias("raw_rate"),
        (
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta"))
        ).alias("eb_rate"),
    )
    return shrunk.groupBy("n_groups", "mu", "alpha", "beta").agg(
        F.count_if(
            F.abs(F.col("eb_rate") - F.col("mu"))
            < F.abs(F.col("raw_rate") - F.col("mu"))
        )
        .cast("bigint")
        .alias("n_shrunk_toward"),
        F.round(F.max(F.abs(F.col("raw_rate") - F.col("eb_rate"))), 6).alias(
            "max_shift"
        ),
        F.round(F.corr("raw_rate", "eb_rate"), 6).alias("raw_eb_corr"),
    ).select(
        F.col("n_groups").alias("n_suppliers"),
        F.round("mu", 6).alias("pooled_rate"),
        F.round("alpha", 4).alias("prior_alpha"),
        F.round("beta", 4).alias("prior_beta"),
        "n_shrunk_toward",
        "max_shift",
        "raw_eb_corr",
    )


ES_EVENT_MONTH = "1997-01"  # policy month for the synthetic cohort split


@register(
    "stats_event_study_leads_lags",
    tags=("stats", "causal"),
    oracle=f"""
WITH base AS (
  SELECT (year(o_orderdate) - 1997) * 12 + month(o_orderdate) - 1 AS rel_m,
         {to_cents_sql("o_totalprice")} AS cents
  FROM orders
  WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1997-07-01'
), boosted AS (
  SELECT arms.treated, b.rel_m,
         b.cents + CASE WHEN arms.treated AND b.rel_m >= 0
                        THEN 40000 + 10000 * b.rel_m ELSE 0 END AS cents
  FROM base b CROSS JOIN (VALUES (TRUE), (FALSE)) AS arms(treated)
), cell AS (
  SELECT treated, rel_m,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s
  FROM boosted GROUP BY 1, 2
), wide AS (
  SELECT rel_m,
         max(CASE WHEN treated THEN CAST(s AS DOUBLE) / n END) AS mt,
         max(CASE WHEN NOT treated THEN CAST(s AS DOUBLE) / n END) AS mc,
         CAST(max(n) AS BIGINT) AS n_orders
  FROM cell GROUP BY rel_m
), anchor AS (
  SELECT mt - mc AS gap0 FROM wide WHERE rel_m = -1
)
SELECT rel_m AS relative_month, n_orders,
       round(mt / 100, 2) AS treated_mean,
       round(mc / 100, 2) AS control_mean,
       round((mt - mc - (SELECT gap0 FROM anchor)) / 100, 2) AS es_coef,
       CAST(CASE WHEN rel_m < 0 THEN 1 ELSE 0 END AS BIGINT) AS is_lead
FROM wide
""",
)
def stats_event_study_leads_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study (dynamic DiD) coefficient path — the modern
    robustness standard that [[stats_diff_in_diff]]'s single
    pre/post contrast hides: for each month relative to the
    {ES_EVENT_MONTH} policy date, the treated-minus-control gap
    NORMALIZED to the t=-1 gap (the conventional anchor), so lead
    months (rel_m < 0) test the parallel-trends assumption — they
    should sit at ~0 — while lag months trace the treatment effect's
    dynamics. The fixtures carry no real intervention, so a known
    effect (a $400 level + $100/month ramp from t=0) is INJECTED
    deterministically onto a PAIRED design: every order is duplicated
    into both arms (a 2-row lateral explode) and only the treated copy
    gets the boost, so arm-composition noise — which at fixture scale
    is ~$100k per cell mean, 250x the effect — cancels EXACTLY and
    the coefficient path recovers 0 leads and the exact ramp at every
    SF, which the test pins to the cent. (A parity-split design would
    exercise the same agg shape but its pins could never be tighter
    than the composition noise.) Cell means come from exact
    integer-cents sums (HUGEINT/decimal); the coefficient is two
    subtractions per month.

    Scale: one exchange to the (arm, month) grain with map-side
    combine; a 12-row reshape after. Clustered standard errors would
    add a per-customer agg, same shape."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
    )
    base = o.select(
        ((F.year("o_orderdate") - 1997) * 12 + F.month("o_orderdate") - 1).alias(
            "rel_m"
        ),
        to_cents("o_totalprice").alias("cents"),
    ).select(
        F.explode(F.array(F.lit(True), F.lit(False))).alias("treated"),
        "rel_m",
        "cents",
    )
    boosted = base.select(
        "treated",
        "rel_m",
        (
            F.col("cents")
            + F.when(
                F.col("treated") & (F.col("rel_m") >= 0),
                40000 + 10000 * F.col("rel_m"),
            ).otherwise(0)
        ).alias("cents"),
    )
    cell = boosted.groupBy("treated", "rel_m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
    )
    wide = cell.groupBy("rel_m").agg(
        F.max(
            F.when(F.col("treated"), F.col("s").cast("double") / F.col("n"))
        ).alias("mt"),
        F.max(
            F.when(~F.col("treated"), F.col("s").cast("double") / F.col("n"))
        ).alias("mc"),
        F.max("n").cast("bigint").alias("n_orders"),
    )
    anchor = wide.where(F.col("rel_m") == -1).select(
        (F.col("mt") - F.col("mc")).alias("gap0")
    )
    return wide.crossJoin(F.broadcast(anchor)).select(
        F.col("rel_m").alias("relative_month"),
        "n_orders",
        F.round(F.col("mt") / 100, 2).alias("treated_mean"),
        F.round(F.col("mc") / 100, 2).alias("control_mean"),
        F.round((F.col("mt") - F.col("mc") - F.col("gap0")) / 100, 2).alias(
            "es_coef"
        ),
        (F.col("rel_m") < 0).cast("bigint").alias("is_lead"),
    )
