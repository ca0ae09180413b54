"""Sketch operators with PORTABLE hashes — oracle-checkable by design.

The reference's aggregation surface is exact (max/min/count,
``/root/reference/test/mr.test.js:100-243``); sketches are part of this
repo's large-scale extension tier. The usual objection to sketches in a
differential-testing harness is that their estimates are engine-specific
(Spark's ``approx_count_distinct`` HLL++ and DuckDB's ``approx_distinct``
produce different numbers, which is why ``agg_approx_distinct`` /
``agg_hll_rollup`` are rows-only registrations). This module removes the
objection the same way the samplers did (``sampling.py``): derive every
hash from md5 of the value, computed identically in Spark and DuckDB, so
the SKETCH ITSELF is deterministic and the oracle checks the estimate
bit-for-bit — not just the row count.

- **KMV (K-Minimum Values)** distinct-count estimator (Bar-Yossef et al.
  2002): keep the k smallest normalized hash values of the distinct
  items; estimate D = (k-1)/u_(k). One narrow pass + a global bottom-k
  (Spark plans ``TakeOrderedAndProject``: per-partition top-k, then a
  k-row merge at the driver side of the exchange — no full sort, no
  full shuffle). This is exactly the mergeable-summary shape used at
  100 TB: each executor ships ≤ k values.
- **Count-Min Sketch** (Cormode & Muthukrishnan 2005): d×w bucket-count
  matrix via d independent hash rows; point estimate = min over rows.
  The full sketch is d*w rows (4×1024 here) regardless of input size —
  the whole matrix fits in one broadcast at any corpus scale, and the
  estimate join is a broadcast hash join against it.

Both carry the exact value alongside the estimate so the oracle also
pins the error envelope (CMS estimate >= true count, always).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_sql
from ..functions.normalize import WORDS_SQL, words
from ..registry import register
from ..sources import load_table

HASH_BITS = 60  # functions.hashing.md5_int's default 15 hex digits
HASH_SPACE = float(1 << HASH_BITS)


def _tokens(docs: DataFrame) -> DataFrame:
    """(token) rows, repo-standard tokenization: ``functions.normalize.words``."""
    return docs.select(F.explode(words("text")).alias("w"))


_TOKENS_SQL = f"""
  SELECT unnest({WORDS_SQL}) AS w
  FROM documents
"""


KMV_K = 256


@register(
    "sketch_kmv_distinct",
    tags=("sketch", "agg"),
    oracle=f"""
WITH hashes AS (
  SELECT DISTINCT {md5_int_sql('w')} AS h
  FROM ({_TOKENS_SQL})
), bottomk AS (
  SELECT h FROM hashes ORDER BY h LIMIT {KMV_K}
), kth AS (
  SELECT max(h) AS hk, CAST(count(*) AS BIGINT) AS k_seen FROM bottomk
), est AS (
  SELECT k_seen,
         CASE WHEN k_seen < {KMV_K} THEN k_seen * 1.0
              ELSE ({KMV_K} - 1) * {HASH_SPACE:.1f} / hk END AS e
  FROM kth
)
SELECT k_seen,
       round(e, 4) AS est_distinct,
       (SELECT CAST(count(*) AS BIGINT) FROM hashes) AS true_distinct,
       round(abs(e - (SELECT count(*) FROM hashes))
             / (SELECT count(*) FROM hashes), 4)     AS rel_err
FROM est
""",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimate of the corpus vocabulary, checked
    bit-for-bit against DuckDB because the hash is portable md5 (unlike
    the engine-native HLLs, which only get rows-only checks). Estimate
    D = (k-1)/u_(k) with u the hash normalized to [0,1) — here kept in
    integer space: D = (k-1) * 2^60 / h_(k).

    Scale: one scan → distinct hash (map-side partial) → global
    bottom-k. Spark plans the bottom-k as TakeOrderedAndProject — each
    partition forwards at most k longs — so the cross-partition traffic
    is k*8 bytes per partition no matter the corpus size. The true
    count is computed alongside for the error column (itself a one-pass
    distinct count; at real scale you'd drop it — it is the quantity
    being estimated). When the stream has fewer than k distinct values
    the sketch holds ALL of them, so the estimate is the exact seen
    count, not the order-statistic formula (which is undefined there)."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = _tokens(docs).select(md5_int(F.col("w")).alias("h")).distinct()
    bottomk = hashes.orderBy("h").limit(KMV_K)
    kth = bottomk.agg(
        F.max("h").alias("hk"), F.count("*").cast("bigint").alias("k_seen")
    )
    true_d = hashes.agg(F.count("*").cast("bigint").alias("true_distinct"))
    est = F.when(
        F.col("k_seen") < KMV_K, F.col("k_seen").cast("double")
    ).otherwise((KMV_K - 1) * F.lit(HASH_SPACE) / F.col("hk"))
    return kth.crossJoin(true_d).select(
        "k_seen",
        F.round(est, 4).alias("est_distinct"),
        "true_distinct",
        F.round(F.abs(est - F.col("true_distinct")) / F.col("true_distinct"), 4).alias(
            "rel_err"
        ),
    )


CMS_D = 4  # hash rows
CMS_W = 1024  # buckets per row
CMS_TOPN = 20  # report the true top-N tokens with their CMS estimates


@register(
    "sketch_countmin_heavy_hitters",
    tags=("sketch", "agg", "text"),
    oracle=f"""
WITH toks AS ({_TOKENS_SQL}),
rows_ AS (SELECT unnest(range({CMS_D})) AS j),
cells AS (
  SELECT j, {md5_int_sql("j || ':' || w")} % {CMS_W} AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM toks, rows_
  GROUP BY j, bucket
),
truth AS (
  SELECT w, CAST(count(*) AS BIGINT) AS true_count
  FROM toks GROUP BY w
  ORDER BY true_count DESC, w LIMIT {CMS_TOPN}
),
est AS (
  SELECT t.w, t.true_count, min(c.c) AS cms_estimate
  FROM truth t
  JOIN rows_ r ON TRUE
  JOIN cells c
    ON c.j = r.j AND c.bucket = {md5_int_sql("r.j || ':' || t.w")} % {CMS_W}
  GROUP BY t.w, t.true_count
)
SELECT w AS token, true_count, cms_estimate,
       cms_estimate - true_count AS overcount
FROM est
ORDER BY true_count DESC, token
""",
)
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch over the token stream, reporting the true top-20
    tokens with their CMS point estimates. The d={CMS_D} hash rows use
    md5(j||':'||token), so Spark and DuckDB build the IDENTICAL d×w
    matrix and the estimates match exactly; CMS guarantees
    estimate >= truth (the `overcount` column is the collision noise,
    never negative — the oracle pins that too).

    Scale: the token stream collapses to vocabulary-sized (w, count)
    rows FIRST (one partial-aggregated shuffle), and only the distinct
    tokens are hashed — d md5 calls per VOCABULARY entry, not per
    occurrence (the occurrence-level form cost d×N hashes and a d×
    exploded exchange; at sf1 that was 28.5s vs ~7s for this shape).
    Cell counts are then SUM(count) by (j, bucket) — identical d×w
    matrix, since hashing is per-token and counts are additive. The
    vocab frame is localCheckpointed so the cells and truth branches
    share one token-count pass. The estimate lookup joins the tiny
    candidate set against the 4096-cell matrix — broadcast territory
    at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        _tokens(docs)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("true_count"))
        .localCheckpoint(eager=True)
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j")
    keyed = wc.select("w", "true_count", j).select(
        "j",
        (
            md5_int(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("w")))
            % CMS_W
        ).alias("bucket"),
        "true_count",
    )
    cells = keyed.groupBy("j", "bucket").agg(
        F.sum("true_count").cast("bigint").alias("c")
    )

    truth = wc.orderBy(F.desc("true_count"), "w").limit(CMS_TOPN)
    cand = truth.select(
        "w",
        "true_count",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j"),
    ).select(
        "w",
        "true_count",
        "j",
        (
            md5_int(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("w")))
            % CMS_W
        ).alias("bucket"),
    )
    est = (
        F.broadcast(cand)
        .join(cells, ["j", "bucket"])
        .groupBy("w", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        F.col("w").alias("token"),
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).alias("overcount"),
    ).orderBy(F.desc("true_count"), "token")


LC_M = 4096  # linear-counting bitmap width


@register(
    "sketch_linear_counting",
    tags=("sketch", "agg"),
    oracle=f"""
WITH toks AS ({_TOKENS_SQL}),
occupied AS (
  SELECT CAST(count(DISTINCT {md5_int_sql('w')} % {LC_M}) AS BIGINT) AS filled
  FROM toks
),
truth AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS true_distinct FROM toks
)
SELECT filled,
       round(-{LC_M} * ln(1.0 - filled * 1.0 / {LC_M}), 4) AS est_distinct,
       true_distinct,
       round(abs(-{LC_M} * ln(1.0 - filled * 1.0 / {LC_M}) - true_distinct)
             / true_distinct, 4) AS rel_err
FROM occupied, truth
""",
)
def sketch_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear counting (Whang et al. 1990): hash each value into an
    m-bit bitmap; estimate D = -m*ln(1 - filled/m) from the occupancy.
    Same portable-md5 discipline as KMV, so the estimate hash-matches
    DuckDB exactly. Valid while D < m*ln(m) — the low-cardinality
    regime where linear counting beats HLL on both accuracy and cost.

    Scale: the bitmap IS a distinct-count over bucket ids — one
    map-side-combined exchange of at most m={LC_M} ids per partition,
    constant regardless of input size; the filled count is a single
    integer per partition after that. (At 100 TB you would fold the
    bitmap per partition and OR them — Spark's partial distinct agg is
    exactly that with ids instead of bits.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    occupied = toks.agg(
        F.countDistinct(md5_int(F.col("w")) % LC_M).cast("bigint").alias("filled")
    )
    truth = toks.agg(
        F.countDistinct("w").cast("bigint").alias("true_distinct")
    )
    est = -LC_M * F.log(1.0 - F.col("filled") / F.lit(float(LC_M)))
    return occupied.crossJoin(truth).select(
        "filled",
        F.round(est, 4).alias("est_distinct"),
        "true_distinct",
        F.round(F.abs(est - F.col("true_distinct")) / F.col("true_distinct"), 4).alias(
            "rel_err"
        ),
    )


def _lang_hashes_sql(lang: str) -> str:
    return f"""
  SELECT DISTINCT {md5_int_sql('w')} AS h
  FROM (SELECT unnest({WORDS_SQL}) AS w
        FROM documents WHERE lang = '{lang}')
"""


@register(
    "sketch_kmv_set_ops",
    tags=("sketch", "agg", "setops"),
    oracle=f"""
WITH ha AS ({_lang_hashes_sql('en')}),
hb AS ({_lang_hashes_sql('es')}),
ka AS (SELECT h FROM ha ORDER BY h LIMIT {KMV_K}),
kb AS (SELECT h FROM hb ORDER BY h LIMIT {KMV_K}),
ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT {KMV_K}),
stats AS (
  SELECT (SELECT max(h) FROM ku)                             AS hk,
         (SELECT CAST(count(*) AS BIGINT) FROM ku)           AS k_seen,
         (SELECT CAST(count(*) AS BIGINT) FROM ku
            WHERE h IN (SELECT h FROM ka)
              AND h IN (SELECT h FROM kb))                   AS k_both
),
est AS (
  SELECT k_seen, k_both,
         CASE WHEN k_seen < {KMV_K} THEN k_seen * 1.0
              ELSE ({KMV_K} - 1) * {HASH_SPACE:.1f} / hk END AS d_union
  FROM stats
)
SELECT k_seen, k_both,
       round(d_union, 4)                          AS est_union,
       round(k_both * 1.0 / k_seen, 6)            AS est_jaccard,
       round(k_both * d_union / k_seen, 4)        AS est_intersection,
       (SELECT CAST(count(*) AS BIGINT)
          FROM ha WHERE h IN (SELECT h FROM hb))  AS true_intersection,
       round((SELECT count(*) FROM ha WHERE h IN (SELECT h FROM hb)) * 1.0
             / (SELECT count(*) FROM (SELECT h FROM ha UNION SELECT h FROM hb)), 6)
                                                  AS true_jaccard
FROM est
""",
)
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketches are MERGEABLE summaries supporting set operations
    (Beyer et al. 2007): union two sketches by taking the bottom-k of
    their combined hash sets; estimate Jaccard as the fraction of the
    union sketch's members present in BOTH input sketches; intersection
    size = jaccard x union estimate. Here: how much vocabulary do the
    'en' and 'es' slices of the corpus share? True values computed
    alongside for the audit.

    This is the sketch pattern that matters at 100 TB: each corpus
    shard ships a k-long summary (k=256 longs = 2 KB), and UNION /
    INTERSECT / JACCARD between any two shards — or between today's
    crawl and last month's — is computed from summaries alone, never
    re-touching the data. Portable md5 hashing makes Spark's and
    DuckDB's sketches (and therefore every derived estimate) identical."""
    docs = load_table(spark, sf_dir, "documents")
    t = words("text")

    def lang_hashes(lang: str) -> DataFrame:
        return (
            docs.filter(F.col("lang") == lang)
            .select(F.explode(t).alias("w"))
            .select(md5_int(F.col("w")).alias("h"))
            .distinct()
        )

    ha, hb = lang_hashes("en"), lang_hashes("es")
    ka = ha.orderBy("h").limit(KMV_K)
    kb = hb.orderBy("h").limit(KMV_K)
    ku = ka.unionByName(kb).distinct().orderBy("h").limit(KMV_K)
    both = ka.intersect(kb)  # hashes present in both sketches
    stats = ku.agg(
        F.max("h").alias("hk"), F.count("*").cast("bigint").alias("k_seen")
    ).crossJoin(
        ku.join(both, "h", "left_semi")
        .agg(F.count("*").cast("bigint").alias("k_both"))
    )
    true_i = ha.join(hb, "h", "left_semi").agg(
        F.count("*").cast("bigint").alias("true_intersection")
    )
    true_u = ha.unionByName(hb).distinct().agg(
        F.count("*").alias("n_union")
    )
    d_union = F.when(
        F.col("k_seen") < KMV_K, F.col("k_seen").cast("double")
    ).otherwise((KMV_K - 1) * F.lit(HASH_SPACE) / F.col("hk"))
    return (
        stats.crossJoin(true_i)
        .crossJoin(true_u)
        .select(
            "k_seen",
            "k_both",
            F.round(d_union, 4).alias("est_union"),
            F.round(F.col("k_both") / F.col("k_seen"), 6).alias("est_jaccard"),
            F.round(F.col("k_both") * d_union / F.col("k_seen"), 4).alias(
                "est_intersection"
            ),
            "true_intersection",
            F.round(F.col("true_intersection") / F.col("n_union"), 6).alias(
                "true_jaccard"
            ),
        )
    )


@register(
    "sketch_ams_f2",
    tags=("sketch", "events"),
    oracle=f"""
WITH freq AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS f
  FROM events GROUP BY user_id
), exact AS (
  SELECT CAST(sum(f) AS BIGINT) AS n_items,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(CAST(f AS HUGEINT) * f) AS DOUBLE) AS exact_f2
  FROM freq
), signs AS (
  SELECT freq.user_id, freq.f, j.j,
         CAST(({md5_int_sql("'ams' || j.j || '-' || freq.user_id", 1)} % 2) * 2 - 1
              AS BIGINT) AS sgn
  FROM freq CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) j
), est AS (
  SELECT j, CAST(sum(sgn * f) AS BIGINT) AS x
  FROM signs GROUP BY j
), sk AS (
  SELECT CAST(avg(CAST(x AS HUGEINT) * x) AS DOUBLE) AS est_f2 FROM est
)
SELECT e.n_items, e.n_keys, e.exact_f2,
       round(sk.est_f2, 4) AS est_f2,
       round(abs(sk.est_f2 - e.exact_f2) / e.exact_f2, 4) AS rel_error
FROM exact e CROSS JOIN sk
""",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy 1996) second-frequency-moment sketch:
    32 independent {-1,+1} four-wise-ish hash signs, X_j = sum_k
    s_j(k) f_k, E[X_j^2] = F2 — the self-join-size / skew estimator
    every streaming system carries, run against the EXACT F2 on the
    same scan so the emitted rel_error IS the sketch-quality audit.
    Everything before the final division is INTEGER (signed counts,
    their squares accumulate in HUGEINT/DECIMAL per the moment-sum
    discipline), so both engines agree exactly; mean-of-32 /32 is a
    power-of-two division, also exact.

    Scale: the data-scale work is ONE per-key hash agg; the 32-way
    estimator expansion happens on the DISTINCT-KEY frame (never on raw
    events), so the sketch costs 32x|keys| tiny rows, one narrow agg.
    The exact-F2 branch exists only as the differential baseline —
    production uses the sketch precisely because sum(f^2) over raw keys
    is what it avoids re-reading."""
    ev = load_table(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    exact = freq.agg(
        F.sum("f").cast("bigint").alias("n_items"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("f")).cast("double").alias(
            "exact_f2"
        ),
    )
    signs = freq.select(
        "user_id",
        "f",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"),
    ).select(
        "f",
        "j",
        (
            md5_int(
                F.concat(
                    F.lit("ams"), F.col("j").cast("string"), F.lit("-"), F.col("user_id").cast("string")
                ),
                1,
            )
            % 2
            * 2
            - 1
        )
        .cast("bigint")
        .alias("sgn"),
    )
    est = signs.groupBy("j").agg(F.sum(F.col("sgn") * F.col("f")).cast("bigint").alias("x"))
    sk = est.agg(
        F.avg(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("double").alias("est_f2")
    )
    return exact.crossJoin(F.broadcast(sk)).select(
        "n_items",
        "n_keys",
        "exact_f2",
        F.round("est_f2", 4).alias("est_f2"),
        F.round(F.abs(F.col("est_f2") - F.col("exact_f2")) / F.col("exact_f2"), 4).alias(
            "rel_error"
        ),
    )


BF_M = 8192  # bloom bit-array width
BF_K = 3  # hash functions


@register(
    "sketch_bloom_filter_audit",
    tags=("sketch", "join"),
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT source,
         unnest({WORDS_SQL}) AS w
  FROM documents WHERE source IN ('src0', 'src1')
), a AS (
  SELECT DISTINCT w FROM tok WHERE source = 'src0'
), b AS (
  SELECT DISTINCT w FROM tok WHERE source = 'src1'
), bits AS (
  SELECT DISTINCT {md5_int_sql("'bf' || h || '-' || w")} % {BF_M} AS bit
  FROM a, (SELECT unnest(range({BF_K})) AS h)
), probe AS (
  SELECT b.w,
         CAST(count(bits.bit) AS BIGINT) AS hits,
         max(CASE WHEN a.w IS NOT NULL THEN 1 ELSE 0 END) AS member
  FROM b
  CROSS JOIN (SELECT unnest(range({BF_K})) AS h) hs
  LEFT JOIN bits
    ON bits.bit = {md5_int_sql("'bf' || hs.h || '-' || b.w")} % {BF_M}
  LEFT JOIN a ON a.w = b.w
  GROUP BY b.w
), card AS (
  SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
         CAST((SELECT count(*) FROM b) AS BIGINT) AS n_probe,
         CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set
)
SELECT n_a, n_probe, bits_set,
       CAST(count(*) FILTER (WHERE hits = {BF_K}) AS BIGINT) AS claimed_pos,
       CAST(count(*) FILTER (WHERE member = 1) AS BIGINT) AS true_members,
       CAST(count(*) FILTER (WHERE hits = {BF_K} AND member = 0) AS BIGINT)
         AS false_pos,
       round(count(*) FILTER (WHERE hits = {BF_K} AND member = 0) * 1e0
             / nullif(count(*) FILTER (WHERE member = 0), 0), 6) AS fp_rate,
       round(pow(1e0 - pow(1e0 - 1e0 / {BF_M}, {BF_K} * n_a), {BF_K}), 6)
         AS fp_theory
FROM probe, card
GROUP BY n_a, n_probe, bits_set
""",
)
def sketch_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit (Bloom 1970) with the module's
    portable-md5 discipline: build an m={BF_M}-bit, k={BF_K}-hash filter
    over src0's distinct vocabulary, probe every src1 token, and emit
    the MEASURED false-positive rate next to the theoretical
    (1-(1-1/m)^(kn))^k — the sketch, the probe, and the error envelope
    are all bit-deterministic on both engines (no engine-native bloom,
    whose bit layout would never hash-match). This is the semi-join
    pre-filter pattern Spark itself applies as a runtime bloom on
    shuffle joins: at 100 TB the filter stands in for the build side —
    {BF_M} bits instead of the vocabulary — and every claimed-negative
    probe row skips the real join entirely; the audit quantifies
    exactly how many phantom rows the k/m choice lets through to the
    verify join (false positives cost a lookup, never correctness).

    Scale: the SET-BIT table is bounded by m — broadcast to every probe
    partition regardless of corpus size; probes explode x{BF_K} then
    aggregate per token with map-side combine; true-membership is one
    broadcast-sized left join. Nothing quadratic, nothing driver-side."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
    )
    tok = docs.select("source", F.explode(words("text")).alias("w")).distinct()
    a = tok.where(F.col("source") == "src0").select("w").distinct()
    b = tok.where(F.col("source") == "src1").select("w").distinct()
    hs = spark.range(BF_K).select(F.col("id").alias("h"))
    salted = F.concat(F.lit("bf"), F.col("h").cast("string"), F.lit("-"), F.col("w"))
    bits = (
        a.crossJoin(F.broadcast(hs))
        .select((md5_int(salted) % BF_M).alias("bit"))
        .distinct()
    )
    probes = b.crossJoin(F.broadcast(hs)).select(
        "w", (md5_int(salted) % BF_M).alias("bit")
    )
    probe = (
        probes.join(F.broadcast(bits.withColumn("present", F.lit(1))), "bit", "left")
        .groupBy("w")
        .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("hits"))
        .join(
            a.withColumn("member_flag", F.lit(1)), "w", "left"
        )
        .select("w", "hits", F.coalesce("member_flag", F.lit(0)).alias("member"))
    )
    card = (
        a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).cast("bigint").alias("n_probe")))
        .crossJoin(bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set")))
    )
    fp_theory = F.pow(
        1.0 - F.pow(1.0 - 1.0 / BF_M, F.lit(BF_K) * F.col("n_a")), float(BF_K)
    )
    return (
        probe.crossJoin(card)
        .groupBy("n_a", "n_probe", "bits_set")
        .agg(
            F.count_if(F.col("hits") == BF_K).cast("bigint").alias("claimed_pos"),
            F.count_if(F.col("member") == 1).cast("bigint").alias("true_members"),
            F.count_if((F.col("hits") == BF_K) & (F.col("member") == 0))
            .cast("bigint")
            .alias("false_pos"),
            F.round(
                F.count_if((F.col("hits") == BF_K) & (F.col("member") == 0))
                * 1.0
                / F.nullif(F.count_if(F.col("member") == 0), F.lit(0)),
                6,
            ).alias("fp_rate"),
        )
        .withColumn("fp_theory", F.round(fp_theory, 6))
    )


HLL_M = 64  # registers (p = 6)
HLL_W = 54  # hash bits left after the register index


@register(
    "sketch_hll_registers",
    tags=("sketch", "agg"),
    oracle=f"""
WITH toks AS ({_TOKENS_SQL}),
h AS (
  SELECT DISTINCT w, {md5_int_sql('w')} AS hv FROM toks
), reg AS (
  SELECT hv % {HLL_M} AS j,
         CAST(hv // {HLL_M} AS BIGINT) AS wbits
  FROM h
), ranks AS (
  SELECT j,
         CASE WHEN wbits = 0 THEN {HLL_W} + 1
              ELSE {HLL_W} - length(bin(wbits)) + 1 END AS rank
  FROM reg
), regmax AS (
  SELECT idx.j,
         CAST(coalesce(max(ranks.rank), 0) AS BIGINT) AS m_j
  FROM (SELECT unnest(range({HLL_M})) AS j) idx
  LEFT JOIN ranks ON ranks.j = idx.j
  GROUP BY idx.j
), harm AS (
  SELECT CAST(sum(CAST(1 AS BIGINT) << ({HLL_W} + 1 - m_j)) AS BIGINT) AS s2,
         CAST(count(*) FILTER (WHERE m_j = 0) AS BIGINT) AS zeros,
         CAST(max(m_j) AS BIGINT) AS max_rank
  FROM regmax
), truth AS (
  SELECT CAST(count(*) AS BIGINT) AS true_distinct FROM h
), est AS (
  SELECT zeros, max_rank,
         (0.7213 / (1 + 1.079 / {HLL_M})) * {HLL_M} * {HLL_M}
           * power(2e0, {HLL_W} + 1) / s2 AS e_raw
  FROM harm
)
SELECT zeros, max_rank,
       round(CASE WHEN e_raw <= 2.5 * {HLL_M} AND zeros > 0
                  THEN -{HLL_M} * ln(zeros * 1e0 / {HLL_M})
                  ELSE e_raw END, 4) AS est_distinct,
       true_distinct,
       round(abs(CASE WHEN e_raw <= 2.5 * {HLL_M} AND zeros > 0
                      THEN -{HLL_M} * ln(zeros * 1e0 / {HLL_M})
                      ELSE e_raw END - true_distinct) / true_distinct, 4)
         AS rel_err
FROM est, truth
""",
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with EXPLICIT registers (Flajolet et al. 2007) —
    completes the module's distinct-count trilogy (KMV order statistics,
    linear-counting occupancy, HLL leading-zero ranks) with the one
    production engines actually ship, in the portable-md5 discipline
    so the ESTIMATE hash-matches DuckDB bit-for-bit (engine-native HLLs
    never would). m=64 registers: register = h mod 64, rank = leading
    zeros of the remaining 54 bits + 1 via length(bin(w)) — an exact
    INTEGER on both engines, no float log2 whose boundary rounding
    could differ. The harmonic sum folds as sum(2^(55-M_j)) in ONE
    exact bigint (dyadic rationals scaled by 2^55; max 64*2^55 < 2^62),
    so the alpha*m^2/sum estimate is derived from integers and is
    bit-deterministic. The small-range regime (E <= 2.5m with empty
    registers) falls back to linear counting exactly as the paper
    prescribes; registers that never see a value enter as rank 0 via
    the 64-row index left-join rather than silently dropping out of
    the harmonic mean.

    Scale: registers are max-aggregates — the canonical MERGEABLE
    summary: every executor ships 64 bytes whatever the corpus size,
    and union across datasets is register-wise max ([[sketch_kmv_set_ops]]
    does set algebra the same way). One distinct-token exchange
    (map-side combined) then a 64-group agg."""
    docs = load_table(spark, sf_dir, "documents")
    h = _tokens(docs).distinct().select(md5_int(F.col("w")).alias("hv"))
    reg = h.select(
        (F.col("hv") % HLL_M).alias("j"),
        F.floor(F.col("hv") / HLL_M).cast("bigint").alias("wbits"),
    )
    ranks = reg.select(
        "j",
        F.when(F.col("wbits") == 0, F.lit(HLL_W + 1))
        .otherwise(HLL_W - F.length(F.bin(F.col("wbits"))) + 1)
        .alias("rank"),
    )
    idx = spark.range(HLL_M).select(F.col("id").alias("j"))
    regmax = (
        idx.join(ranks, "j", "left")
        .groupBy("j")
        .agg(F.coalesce(F.max("rank"), F.lit(0)).cast("bigint").alias("m_j"))
    )
    harm = regmax.agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), cast({HLL_W + 1} - m_j as int))"))
        .cast("bigint")
        .alias("s2"),
        F.count_if(F.col("m_j") == 0).cast("bigint").alias("zeros"),
        F.max("m_j").cast("bigint").alias("max_rank"),
    )
    truth = h.agg(F.count(F.lit(1)).cast("bigint").alias("true_distinct"))
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    e_raw = (
        F.lit(alpha)
        * HLL_M
        * HLL_M
        * F.pow(F.lit(2.0), F.lit(HLL_W + 1))
        / F.col("s2")
    )
    est = F.when(
        (e_raw <= 2.5 * HLL_M) & (F.col("zeros") > 0),
        -HLL_M * F.log(F.col("zeros") * 1.0 / HLL_M),
    ).otherwise(e_raw)
    return (
        harm.crossJoin(truth)
        .select(
            "zeros",
            "max_rank",
            F.round(est, 4).alias("est_distinct"),
            "true_distinct",
            F.round(F.abs(est - F.col("true_distinct")) / F.col("true_distinct"), 4)
            .alias("rel_err"),
        )
    )
