"""End-to-end training-data curation pipeline — the composite operator
chain a 100 TB pretraining-data run executes, as ONE declarative plan:

    quality filter → language filter → exact dedup (keep canonical)
    → per-language stats

Each stage is an operator proven individually elsewhere
(operators.text, operators.dedup); this query proves they compose into
a single Catalyst plan (filters merge into the scan, dedup is one
keyed exchange, stats re-use the dedup shuffle's partitioning where
possible) rather than materializing between stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hex_int, hex_int_sql, md5_int, md5_int_sql
from ..functions.normalize import (
    FINGERPRINT_SQL,
    SPLIT_LOWER_SQL,
    WORDS_SQL,
    fingerprint,
    split_lower,
    words,
)
from ..registry import register
from ..sources import load_table


@register(
    "pipeline_curate_corpus",
    bench=True,
    tags=("pipeline", "dedup", "text"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         len(list_filter(string_split(text, ' '), w -> trim(w) <> '')) AS n_tokens,
         {FINGERPRINT_SQL} AS fingerprint
  FROM documents
), filtered AS (
  SELECT * FROM scored
  WHERE n_tokens BETWEEN 10 AND 1000
    AND lang IN ('en', 'es', 'fr', 'de')
), canonical AS (
  SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM filtered
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens
FROM canonical WHERE rn = 1
GROUP BY lang
""",
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation chain as one plan: token-count quality gate → language
    allowlist → exact dedup keeping the lowest doc_id per fingerprint →
    per-language token budget. At 100 TB: two exchanges total
    (fingerprint window, language agg); the filters run inside the scan."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words("text"))
    scored = docs.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"), fingerprint("text").alias("fingerprint")
    )
    filtered = scored.filter(
        F.col("n_tokens").between(10, 1000) & F.col("lang").isin("en", "es", "fr", "de")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    canonical = filtered.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return canonical.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


@register(
    "window_distribution",
    tags=("window",),
    oracle="""
WITH b AS (
  SELECT c_custkey, c_nationkey,
         row_number() OVER w AS r,
         count(*) OVER (PARTITION BY c_nationkey) AS n,
         ntile(10) OVER w AS decile
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2), c_custkey)
)
SELECT c_custkey, c_nationkey,
       CASE WHEN n = 1 THEN 0e0
            ELSE ((2 * (r - 1) * 1000000 + (n - 1)) // (2 * (n - 1))) / 1e6
       END AS pct_rank,
       ((2 * r * 1000000 + n) // (2 * n)) / 1e6 AS cume,
       decile
FROM b
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / ntile
    per nation (the per-group quantile-assignment primitives). The
    unique (acctbal, custkey) ordering makes rank == row_number, so
    both ratios reduce to exact integer rank arithmetic — and since
    round 6 they're computed as INTEGER half-up rounds,
    (2*num*10^6 + den) div (2*den), before one shared /1e6: the sf0.1
    second-scale gate caught cume_dist quotients landing exactly on
    6dp midpoints (n=640 per nation → rank/640 ends in ...5), where
    Spark's decimal-string round and DuckDB's raw-double round split.
    Integer half-up has no midpoint ambiguity on either engine."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.round("c_acctbal", 2), "c_custkey")
    b = c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).cast("bigint").alias("_r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("c_nationkey"))
        .cast("bigint")
        .alias("_n"),
        F.ntile(10).over(w).alias("decile"),
    )
    return b.select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("_n") == 1, F.lit(0.0))
        .otherwise(
            F.expr(
                "((2 * (_r - 1) * 1000000 + (_n - 1)) div (2 * (_n - 1))) / 1e6"
            )
        )
        .alias("pct_rank"),
        F.expr("((2 * _r * 1000000 + _n) div (2 * _n)) / 1e6").alias("cume"),
        "decile",
    )


# Portable doc-order hash: md5 of the doc id, so DuckDB replays the exact
# shard assignment and within-shard order (same rule as the MinHash
# constants — never engine-private hashes in a cross-engine contract).
N_SHARDS = 16
SEQ_BUDGET = 2048  # tokens per packed training sequence
MIX_BUDGET = 50_000  # token budget per source domain


def _doc_hash():
    return F.md5(F.col("doc_id").cast("string"))


@register(
    "pipeline_shuffle_shard",
    tags=("pipeline", "training"),
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents
)
SELECT doc_id,
       CAST({hex_int_sql("hh", 6)} % {N_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY {hex_int_sql("hh", 6)} % {N_SHARDS}
                               ORDER BY hh) AS BIGINT) AS pos
FROM h
""",
)
def pipeline_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data serving: every doc
    gets a pseudo-random shard (hash mod N) and a stable position inside
    it (ordered by the full hash). At 100 TB this is the one shuffle a
    dataloader-facing write needs — `repartition(N_SHARDS, shard)` +
    `sortWithinPartitions(h)` produces shard files directly; no global
    sort, no driver involvement, reshard = change N."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", _doc_hash().alias("hh"))
    shard = (hex_int("hh", 6) % N_SHARDS).cast("int")
    w = Window.partitionBy("shard").orderBy("hh")
    return (
        h.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


@register(
    "pipeline_pack_sequences",
    tags=("pipeline", "training"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh,
         {md5_int_sql("CAST(doc_id AS VARCHAR)", 6)} % {N_SHARDS} AS shard,
         len(list_filter(string_split(text, ' '), w -> trim(w) <> '')) AS n_tokens
  FROM documents
), packed AS (
  SELECT shard, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY hh
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / {SEQ_BUDGET}) AS BIGINT) AS seq_id
  FROM toks
)
SELECT CAST(shard AS INT) AS shard, seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
FROM packed
GROUP BY shard, seq_id
""",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: docs stream through each shard in
    deterministic hash order and fall into consecutive fixed-token-budget
    training sequences (seq_id = floor(preceding-token-cumsum / budget)).
    The classic dataloader 'pack to 2048/4096/8192 context' step as one
    window over the shard partitioning — reuses pipeline_shuffle_shard's
    exchange, no per-doc Python, no driver state, any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words("text"))
    toks = docs.select(
        "doc_id",
        _doc_hash().alias("hh"),
        n_tokens.cast("bigint").alias("n_tokens"),
    ).withColumn("shard", hex_int("hh", 6) % N_SHARDS)
    w = (
        Window.partitionBy("shard")
        .orderBy("hh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "seq_id", F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / SEQ_BUDGET)
    )
    return packed.groupBy(F.col("shard").cast("int").alias("shard"), "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )


@register(
    "pipeline_domain_mix",
    tags=("pipeline", "training", "sampling"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hh,
         len(list_filter(string_split(text, ' '), w -> trim(w) <> '')) AS n_tokens
  FROM documents
), cum AS (
  SELECT source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY hh
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM toks
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
       round(sum(n_tokens) / {MIX_BUDGET}.0, 4) AS budget_fill
FROM cum
WHERE running <= {MIX_BUDGET}
GROUP BY source
""",
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing under a per-source token budget: docs stream per
    source in deterministic hash order and are kept until the running
    token total reaches the budget — the 'rebalance the pretraining mix'
    step (downsample dominant web crawl, keep all of the rare domain).
    One window per source partition; budgets are exact and reproducible
    run-over-run because the order is content-derived, not RNG state."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words("text"))
    toks = docs.select(
        "doc_id", "source", _doc_hash().alias("hh"), n_tokens.cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("hh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = toks.withColumn("running", F.sum("n_tokens").over(w)).filter(
        F.col("running") <= MIX_BUDGET
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.round(F.sum("n_tokens") / float(MIX_BUDGET), 4).alias("budget_fill"),
    )


@register(
    "pipeline_boilerplate_filter",
    tags=("pipeline", "text", "quality"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, {WORDS_SQL} AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 6),
                i -> array_to_string(t[i:i+7], ' '))) AS g
  FROM toks WHERE len(t) >= 8
), boiler AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 5
), frac AS (
  SELECT grams.doc_id, grams.lang,
         avg(CASE WHEN boiler.g IS NOT NULL THEN 1.0 ELSE 0.0 END) AS boiler_frac
  FROM grams LEFT JOIN boiler ON grams.g = boiler.g
  GROUP BY grams.doc_id, grams.lang
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       round(avg(boiler_frac), 6) AS avg_boiler_frac
FROM frac
WHERE boiler_frac < 0.5
GROUP BY lang
""",
)
def pipeline_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning counterpart of text_boilerplate_ngrams: score every
    document by the fraction of its 8-grams that are corpus-boilerplate
    (8-grams shared by ≥5 docs), drop docs above 50%, report per-language
    survivors. One grams table feeds both the boilerplate set and the
    per-doc scoring (shared exchange); the join is gram-keyed — ids and
    grams only, text never moves twice. The C4-style 'remove pages that
    are mostly template' pass as one plan."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", words("text").alias("t")).filter(F.size("t") >= 8)
    idx = F.sequence(F.lit(1), F.size("t") - 7)
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at("t", i + j) for j in range(8)])
    )
    grams = base.select("doc_id", "lang", F.explode(gram).alias("g")).dropDuplicates(
        ["doc_id", "g"]
    )
    boiler = (
        grams.groupBy("g").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 5)
        .select("g", F.lit(1).alias("is_boiler"))
    )
    frac = (
        grams.join(boiler, "g", "left")
        .groupBy("doc_id", "lang")
        .agg(F.avg(F.when(F.col("is_boiler").isNotNull(), 1.0).otherwise(0.0)).alias("boiler_frac"))
    )
    return (
        frac.filter(F.col("boiler_frac") < 0.5)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.round(F.avg("boiler_frac"), 6).alias("avg_boiler_frac"),
        )
    )


LINE_W = 10  # words per pseudo-line (the corpus has no newlines; fixed-width
# word chunks stand in for the C4-style "line" unit)


@register(
    "pipeline_line_dedup",
    tags=("pipeline", "dedup", "text"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, {WORDS_SQL} AS t
  FROM documents
), exploded AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(0, CAST(floor(len(t)/{LINE_W}) AS BIGINT)),
                i -> {{'line_no': CAST(i AS INT),
                      'lh': md5(array_to_string(
                          t[(CAST(i AS INT)*{LINE_W}+1):(CAST(i AS INT)*{LINE_W}+{LINE_W})], ' '))}})) AS u
  FROM toks WHERE len(t) >= {LINE_W}
), lines AS (
  SELECT doc_id, lang, u.line_no AS line_no, u.lh AS lh FROM exploded
), ranked AS (
  SELECT lang, row_number() OVER (PARTITION BY lh ORDER BY doc_id, line_no) AS rn
  FROM lines
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(avg(CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END), 6) AS kept_frac
FROM ranked GROUP BY lang
""",
)
def pipeline_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level exact dedup: chunk every document into
    fixed-width pseudo-lines (10 words), keep only the globally-first
    occurrence of each line (ordered by doc_id, line_no), report the
    per-language survival rate. The 'remove repeated lines across the
    whole crawl' pass.

    Scale shape: lines are reduced to md5 hashes before the shuffle, so
    the one exchange (window keyed by line hash) moves 16-byte keys +
    two ids per line — never the text. At 100 TB the same plan holds;
    the window could be replaced by a groupBy(lh).agg(min_by) + semi
    join if per-key skew (a viral boilerplate line) ever dominated a
    partition."""
    docs = load_table(spark, sf_dir, "documents")
    t = words("text")
    base = docs.select("doc_id", "lang", t.alias("t")).filter(F.size("t") >= LINE_W)
    idx = F.sequence(F.lit(0), F.floor(F.size("t") / LINE_W).cast("int") - 1)
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("line_no"),
            F.md5(F.concat_ws(" ", F.slice("t", i * LINE_W + 1, LINE_W))).alias("lh"),
        ),
    )
    lines = base.select("doc_id", "lang", F.explode(chunks).alias("u")).select(
        "doc_id", "lang", F.col("u.line_no").alias("line_no"), F.col("u.lh").alias("lh")
    )
    w = Window.partitionBy("lh").orderBy("doc_id", "line_no")
    ranked = lines.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.round(F.avg(F.when(F.col("rn") == 1, 1.0).otherwise(0.0)), 6).alias("kept_frac"),
    )


@register(
    "pipeline_incremental_dedup",
    tags=("pipeline", "dedup"),
    oracle=f"""
WITH tagged AS (
  SELECT doc_id, lang,
         {FINGERPRINT_SQL} AS fp,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS is_existing
  FROM documents
), existing AS (
  SELECT DISTINCT fp FROM tagged WHERE is_existing
), ranked AS (
  SELECT doc_id, lang, fp, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM tagged WHERE NOT is_existing
), flagged AS (
  SELECT r.lang, r.rn, CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END AS is_old
  FROM ranked r LEFT JOIN existing e ON r.fp = e.fp
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_incoming,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
       CAST(sum(CASE WHEN rn = 1 AND is_old = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_corpus,
       CAST(sum(CASE WHEN rn = 1 AND is_old = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_unique
FROM flagged GROUP BY lang
""",
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl ingest: dedup an incoming batch against an
    already-curated corpus AND within itself, classifying every incoming
    doc as within-batch duplicate, known-to-corpus duplicate, or new.
    The split is deterministic (md5(doc_id) first hex digit — 75%
    'existing', 25% 'incoming') so both engines replay it exactly.

    Scale shape: the existing corpus contributes only its DISTINCT
    fingerprint column (16-byte keys) to the join — at 100 TB that is
    the classic fingerprint-index anti-join, optionally fronted by a
    bloom filter; text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint("text")
    tagged = docs.select(
        "doc_id",
        "lang",
        fp.alias("fp"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "c").alias("is_existing"),
    )
    existing = tagged.filter("is_existing").select("fp").distinct().withColumn(
        "is_old", F.lit(1)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    ranked = (
        tagged.filter(~F.col("is_existing"))
        .withColumn("rn", F.row_number().over(w))
        .join(existing, "fp", "left")
        .withColumn("is_old", F.coalesce("is_old", F.lit(0)))
    )
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_within"),
        F.sum(F.when((F.col("rn") == 1) & (F.col("is_old") == 1), 1).otherwise(0)).alias(
            "n_dup_vs_corpus"
        ),
        F.sum(F.when((F.col("rn") == 1) & (F.col("is_old") == 0), 1).otherwise(0)).alias(
            "n_new_unique"
        ),
    )


@register(
    "pipeline_quality_decile_gate",
    tags=("pipeline", "window", "text"),
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT doc_id, source, n_chars, decile
FROM ranked WHERE decile > 3
""",
)
def pipeline_quality_decile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-gated curation: rank every document into per-source
    deciles by a quality proxy (char length) and drop the bottom 30% of
    each source — the relative-threshold filter pipelines use when
    absolute quality cutoffs would gut some corpora and spare others.

    One shuffle (window keyed by source); ties broken by doc_id so the
    decile assignment is deterministic on both engines. At 100 TB, if a
    single source outweighs a partition, the same gate runs on a salted
    (source, shard) key with per-source quantile summaries instead —
    ntile here because corpus-per-partition holds at this cardinality.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars", F.ntile(10).over(w).alias("decile"))
        .filter(F.col("decile") > 3)
    )


@register(
    "pipeline_mixture_weights",
    tags=("pipeline", "text"),
    oracle="""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(n_tokens) AS total FROM per_src
), raw AS (
  SELECT source, n_tokens,
         n_tokens * 1.0 / (SELECT total FROM tot) AS actual_share,
         -- temperature-scaled up/down-weight toward a uniform target mix
         pow((1.0 / (SELECT count(*) FROM per_src))
             / (n_tokens * 1.0 / (SELECT total FROM tot)), 0.5) AS raw_w
  FROM per_src
)
SELECT source, n_tokens,
       round(actual_share, 6) AS actual_share,
       round(raw_w / (SELECT sum(raw_w) FROM raw), 6) AS sample_weight
FROM raw
""",
)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture reweighting: per-source token shares and the
    temperature-scaled (τ=0.5) sampling weights that pull the mix toward
    uniform — the domain-balancing step applied before drawing a
    pretraining epoch (up-weights rare sources as sqrt(target/actual)).

    One token-count aggregate keyed by source reduces 100 TB of text to
    a sources-cardinality table; everything after (shares, temperature,
    normalization) is arithmetic on that tiny frame, kept distributed
    only so the output composes with downstream joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words("text"))
    per_src = docs.groupBy("source").agg(F.sum(n_tok).cast("long").alias("n_tokens"))
    tot = per_src.agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_src")
    )
    raw = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens") / F.col("total")).alias("actual_share"),
        F.pow(
            (1.0 / F.col("n_src")) / (F.col("n_tokens") / F.col("total")), 0.5
        ).alias("raw_w"),
    )
    norm = raw.agg(F.sum("raw_w").alias("z"))
    return raw.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_tokens",
        F.round("actual_share", 6).alias("actual_share"),
        F.round(F.col("raw_w") / F.col("z"), 6).alias("sample_weight"),
    )


CHUNK_LEN = 200  # chars per training chunk
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


@register(
    "pipeline_chunk_documents",
    tags=("pipeline", "training"),
    oracle=f"""
WITH docs AS (
  SELECT doc_id, text, length(text) AS n_chars FROM documents
), chunks AS (
  SELECT doc_id, n_chars,
         CAST(u.k AS BIGINT) AS chunk_idx,
         substr(text, CAST(u.k * {CHUNK_STRIDE} + 1 AS BIGINT), {CHUNK_LEN}) AS chunk
  FROM docs,
       LATERAL (SELECT unnest(generate_series(0,
                  CAST(greatest(ceil((n_chars - {CHUNK_LEN}) / {CHUNK_STRIDE}.0), 0) AS BIGINT))) AS k) u
)
SELECT doc_id, chunk_idx,
       length(chunk) AS chunk_chars,
       md5(chunk) AS chunk_hash
FROM chunks
WHERE length(chunk) > 0
""",
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (200-char windows, 150-char
    stride → 50-char overlap): the context-window preparation step that
    turns long documents into trainable pieces without losing
    cross-boundary text. Emits (doc_id, chunk_idx, length, content hash)
    — the hash stands in for the chunk text so the result stays compact.

    Chunk offsets are generated per row with sequence+explode (fan-out =
    ceil(len/stride), data-derived, no driver loop) and sliced with
    substring — all JVM exprs. At 100 TB this is a narrow map whose
    output feeds the pack_sequences stage; no shuffle is introduced
    here at all."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n_chars")
    )
    n_chunks = F.greatest(
        F.ceil((F.col("n_chars") - F.lit(CHUNK_LEN)) / F.lit(float(CHUNK_STRIDE))),
        F.lit(0),
    ).cast("bigint")
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks)).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("text")
        .substr(
            (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"),
            F.lit(CHUNK_LEN),
        )
        .alias("chunk"),
    )
    return chunks.filter(F.length("chunk") > 0).select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").alias("chunk_chars"),
        F.md5("chunk").alias("chunk_hash"),
    )


@register(
    "pipeline_feature_scaling",
    tags=("pipeline", "ml"),
    oracle="""
WITH g AS (
  SELECT event_type,
         round(avg(value), 6) AS mu,
         round(stddev_samp(value), 6) AS sigma,
         round(min(value), 6) AS lo,
         round(max(value), 6) AS hi,
         count(*) AS n
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       round((e.value - g.mu) / g.sigma, 4) AS z_score,
       round((e.value - g.lo) / (g.hi - g.lo), 4) AS min_max,
       round((rank() OVER (PARTITION BY e.event_type ORDER BY e.value) - 1.0)
             / (g.n - 1), 4) AS quantile_rank
FROM events e JOIN g ON g.event_type = e.event_type
""",
)
def pipeline_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization, the ML-prep triple: z-score
    ((x-μ)/σ), min-max ((x-lo)/(hi-lo)), and quantile rank
    ((rank-1)/(n-1), ties sharing the min rank so the result is
    deterministic without a tiebreak column). Group moments come from
    ONE hash-agg broadcast back over the scan (never a window for μ/σ —
    the moment table is group-cardinality); only the quantile rank pays
    a per-group sort, and it shares the single event_type exchange.
    Moments round at 6dp before the scaling arithmetic so both engines
    divide identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(F.col("event_type").alias("g_type")).agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    rnk = F.rank().over(Window.partitionBy("event_type").orderBy("value"))
    return (
        ev.join(g, F.col("event_type") == F.col("g_type"))
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias(
                "z_score"
            ),
            F.round(
                (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")), 4
            ).alias("min_max"),
            F.round((rnk - 1.0) / (F.col("n") - 1), 4).alias("quantile_rank"),
        )
    )


@register(
    "pipeline_train_val_split",
    tags=("pipeline", "training"),
    oracle=f"""
WITH assigned AS (
  SELECT source,
         CASE WHEN {md5_int_sql("'split-' || CAST(doc_id AS VARCHAR)", 8)} % 100 < 98 THEN 'train'
              WHEN {md5_int_sql("'split-' || CAST(doc_id AS VARCHAR)", 8)} % 100 < 99 THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY source, split
""",
)
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by salted content
    hash — the split that stays STABLE as the corpus grows (a doc never
    migrates between splits when new data arrives, unlike
    randomSplit/modulo-on-position), which is what keeps eval sets
    uncontaminated across pipeline re-runs. Pure map + one small agg;
    the same predicate IS the split filter at materialization time."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_int(F.concat(F.lit("split-"), F.col("doc_id").cast("string")), 8) % 100
    assigned = docs.select(
        "source",
        F.when(bucket < 98, "train").when(bucket < 99, "val").otherwise("test").alias("split"),
        "n_chars",
    )
    return assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def _dedup_report_oracle() -> str:
    from .dedup import _MINHASH_STAR_ORACLE

    return f"""
WITH pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_MINHASH_STAR_ORACLE})),
fp AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY {FINGERPRINT_SQL}
           ORDER BY doc_id) AS rn
  FROM documents
),
near_pruned AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_exact_dups,
       CAST(count(*) FILTER (WHERE rn = 1 AND doc_id IN (SELECT doc_id FROM near_pruned))
            AS BIGINT) AS n_near_dups,
       CAST(count(*) FILTER (WHERE rn = 1 AND doc_id NOT IN (SELECT doc_id FROM near_pruned))
            AS BIGINT) AS n_survivors
FROM fp
GROUP BY source
"""


@register(
    "pipeline_dedup_report",
    tags=("pipeline", "dedup", "profiling"),
    oracle=_dedup_report_oracle(),
)
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup funnel report per source: exact duplicates (non-canonical
    fingerprint rows) → near-duplicates among the exact survivors
    (verified non-hub member of any MinHash-LSH star edge) → survivors.
    The before/after accounting a corpus-cleaning run publishes,
    composed from the same fingerprint and star-edge primitives the
    cleaning pass (`dedup_minhash_clusters`) itself uses — report and
    pipeline cannot disagree, and both stay corpus-LINEAR on clone-heavy
    data. (r10 rule-(a) re-row: the report previously consumed the full
    `minhash_lsh_pairs` emitter, whose clones² output the edge-feed
    policy confines to calibration scale — the r10 sf10 stride caught it
    OOMing a verify-join hash build. A report that cannot run at the
    scale of the pass it describes was feeding from the wrong tier;
    star doc_b membership = "verified near-dup of its bucket hub", the
    same keeper semantics the cleaning pass applies.)

    Shapes reused wholesale: one fingerprint window, the shared banded
    star derivation (ids-only), one anti-join-style membership flag,
    one source-cardinality aggregate."""
    from .dedup import minhash_star_pairs

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", fingerprint("text").alias("fingerprint"))
    rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy("doc_id")
    )
    ranked = fp.withColumn("rn", rn)
    near = (
        minhash_star_pairs(docs)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )
    flagged = ranked.join(near, "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("rn") > 1).alias("n_exact_dups"),
        F.count_if((F.col("rn") == 1) & F.col("is_near").isNotNull()).alias(
            "n_near_dups"
        ),
        F.count_if((F.col("rn") == 1) & F.col("is_near").isNull()).alias(
            "n_survivors"
        ),
    )


@register(
    "pipeline_mixture_materialize",
    tags=("pipeline", "sampling"),
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_src
  FROM per_src
), r AS (
  SELECT source, n_docs,
         pow((1.0 / n_src) / (n_tokens * 1.0 / total), 0.5) AS rep
  FROM per_src CROSS JOIN tot
), perdoc AS (
  SELECT d.doc_id, d.source,
         CAST(floor(r.rep) AS BIGINT)
         + CASE WHEN {md5_int_sql("'mix:' || CAST(d.doc_id AS VARCHAR)", 8)} % 1000000
                     < CAST(floor((r.rep - floor(r.rep)) * 1000000) AS BIGINT)
                THEN 1 ELSE 0 END AS copies
  FROM documents d JOIN r ON r.source = d.source
)
SELECT p.source, r.n_docs, round(r.rep, 6) AS repeat_factor,
       CAST(sum(p.copies) AS BIGINT) AS n_materialized
FROM perdoc p JOIN r ON r.source = p.source
GROUP BY p.source, r.n_docs, round(r.rep, 6)
""",
)
def pipeline_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch materialization of a dataset mixture: turn the τ=0.5
    temperature rebalance (`pipeline_mixture_weights`) into actual
    per-document repeat counts — every doc of source s appears
    floor(r_s) times plus one more with probability frac(r_s), where
    r_s = sqrt(uniform_share / actual_token_share) up-samples rare
    sources toward parity. The fractional coin is a portable md5 draw
    per doc (integer-thousandths threshold), so the materialized counts
    are reproducible across engines, reruns, and cluster sizes — the
    property an epoch manifest must have for resumable training.

    r_s deliberately avoids any cross-source float accumulation (no
    normalizing sum): each source's factor is sqrt of a ratio of exact
    integers, so both engines derive bit-identical thresholds. Plan:
    sources-cardinality stats broadcast back over the doc scan; the
    epoch expansion is arithmetic, not data movement — at 100 TB the
    manifest (doc_id, copies) streams straight to the shuffle-shard
    writer (`pipeline_shuffle_shard`)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words("text"))
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
    )
    r = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.pow(
            (1.0 / F.col("n_src")) / (F.col("n_tokens") * 1.0 / F.col("total")), 0.5
        ).alias("rep"),
    )
    coin = md5_int(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 8) % 1000000
    thresh = F.floor((F.col("rep") - F.floor("rep")) * 1000000).cast("bigint")
    perdoc = (
        docs.select("doc_id", "source")
        .join(F.broadcast(r), "source")
        .select(
            "source",
            "n_docs",
            F.round("rep", 6).alias("repeat_factor"),
            (
                F.floor("rep").cast("bigint")
                + F.when(coin < thresh, 1).otherwise(0)
            ).alias("copies"),
        )
    )
    return perdoc.groupBy("source", "n_docs", "repeat_factor").agg(
        F.sum("copies").cast("bigint").alias("n_materialized")
    )


@register(
    "pipeline_quality_rejection_sample",
    tags=("pipeline", "sampling"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         least(CAST(n_chars AS BIGINT), 900) + CASE WHEN lang = 'en' THEN 100 ELSE 0 END
             AS quality_millis
  FROM documents
), drawn AS (
  SELECT source, quality_millis,
         CASE WHEN {md5_int_sql("'accept:' || CAST(doc_id AS VARCHAR)", 8)} % 1000
                   < quality_millis THEN 1 ELSE 0 END AS accepted
  FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(accepted) AS BIGINT) AS n_accepted,
       CAST(sum(quality_millis) AS BIGINT) AS expected_millis
FROM drawn GROUP BY source
""",
)
def pipeline_quality_rejection_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional acceptance sampling (the DCLM/FineWeb-style
    soft gate: rather than a hard quality threshold, each document
    survives with probability proportional to its quality score, so
    borderline text is down-weighted, not cliff-dropped). The score is
    an integer millis scale (length capped at 0.9 + an English bonus —
    a stand-in for a model-based quality head), and the accept coin is
    the portable md5 draw against that integer threshold — no float
    comparison anywhere, so the sampled set is bit-identical across
    engines, reruns, and cluster sizes. The report carries realized vs
    expected acceptance mass per source (sum of quality_millis IS the
    expected accept count x1000), the calibration check a soft gate
    ships with.

    Zero shuffles beyond the source-cardinality rollup: score and coin
    are scan-local codegen."""
    docs = load_table(spark, sf_dir, "documents")
    quality = (
        F.least(F.col("n_chars").cast("bigint"), F.lit(900))
        + F.when(F.col("lang") == "en", 100).otherwise(0)
    ).alias("quality_millis")
    coin = md5_int(F.concat(F.lit("accept:"), F.col("doc_id").cast("string")), 8) % 1000
    drawn = docs.select(
        "source",
        quality,
        F.when(coin < F.col("quality_millis"), 1).otherwise(0).alias("accepted"),
    )
    return drawn.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("accepted").cast("bigint").alias("n_accepted"),
        F.sum("quality_millis").cast("bigint").alias("expected_millis"),
    )


@register(
    "pipeline_target_encoding",
    tags=("pipeline", "feature"),
    oracle="""
WITH joined AS (
  SELECT c.c_mktsegment AS segment, o.o_totalprice AS target
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
),
g AS (SELECT avg(target) AS global_mean FROM joined)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(target), 6) AS raw_mean,
       round((sum(target) + 100.0 * (SELECT global_mean FROM g))
             / (count(*) + 100.0), 6) AS encoded
FROM joined
GROUP BY segment
""",
)
def pipeline_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of a categorical feature (m=100
    pseudo-observations toward the global mean) — the standard
    leakage-controlled way to turn a high-cardinality category into a
    numeric training feature: encoded = (sum + m*global) / (n + m).

    Scale shape: the fact table collapses to category cardinality in ONE
    hash agg (sums+counts, partial map-side), the global mean is a 1-row
    broadcast, and the encode step is arithmetic over the tiny category
    frame. Applying the encoding back to 100 TB of rows is then a
    broadcast map-join of that frame — never a shuffle of the facts.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("target"),
    )
    g = joined.agg(F.avg("target").alias("global_mean"))
    per_cat = joined.groupBy("segment").agg(
        F.count("*").alias("n_orders"),
        F.avg("target").alias("raw_mean"),
        F.sum("target").alias("s"),
    )
    return (
        per_cat.crossJoin(F.broadcast(g))
        .select(
            "segment",
            "n_orders",
            F.round("raw_mean", 6).alias("raw_mean"),
            F.round(
                (F.col("s") + 100.0 * F.col("global_mean"))
                / (F.col("n_orders") + 100.0),
                6,
            ).alias("encoded"),
        )
    )


MLM_RATE_PCT = 15  # BERT masking rate, as an integer percent (coin < 15/100)


@register(
    "pipeline_mlm_masking",
    tags=("pipeline", "training"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         {WORDS_SQL} AS t
  FROM documents
), coins AS (
  SELECT doc_id, t,
         list_transform(range(1, len(t) + 1),
           i -> {md5_int_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 4)} % 100
                < {MLM_RATE_PCT}) AS m
  FROM toks
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(range(1, len(t) + 1), i -> m[i])) AS BIGINT) AS n_masked,
       round(len(list_filter(range(1, len(t) + 1), i -> m[i])) * 1.0 / len(t), 4) AS mask_rate,
       coalesce(array_to_string(list_filter(range(1, len(t) + 1), i -> m[i]), ','), '') AS masked_pos_csv,
       coalesce(array_to_string(list_transform(list_filter(range(1, len(t) + 1), i -> m[i]), i -> t[i]), ','), '') AS masked_tokens_csv
FROM coins
WHERE len(t) > 0
""",
)
def pipeline_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-language-model example construction (BERT-style iid
    masking): every token position flips an md5 coin at {MLM_RATE_PCT}%,
    masked positions become the prediction targets. Coins key on
    (doc_id, position) — the portable-hash contract — so the SAME
    example set materializes on every engine, every rerun, every
    epoch-shard worker: reproducible pretraining data without shipping
    an RNG state. Pure array expressions in one codegen'd projection
    (transform over sequence + filter); zero shuffle, zero Python —
    the 100 TB cost is the scan itself. (Span corruption à la T5 needs
    sequential greedy span selection; iid masking is the
    order-free form that parallelizes trivially.)"""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", words("text").alias("t")).filter(F.size("t") > 0)
    idx = F.sequence(F.lit(1), F.size("t"))
    coin = lambda i: (
        md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string")), 4)
        % 100
        < MLM_RATE_PCT
    )
    masked_pos = F.filter(idx, lambda i: coin(i))
    return base.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(masked_pos).cast("bigint").alias("n_masked"),
        F.round(F.size(masked_pos) * 1.0 / F.size("t"), 4).alias("mask_rate"),
        F.array_join(masked_pos, ",").alias("masked_pos_csv"),
        F.array_join(
            F.transform(masked_pos, lambda i: F.element_at("t", i)), ","
        ).alias("masked_tokens_csv"),
    )


RLHF_TOP_DECILE = 9  # chosen from deciles >= 9, rejected from <= 2


@register(
    "pipeline_rlhf_pair_construction",
    tags=("pipeline", "training"),
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS decile,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rtop,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rbot
  FROM documents
), chosen AS (
  SELECT source, doc_id AS chosen_id, n_chars AS chosen_score, rtop AS pair_rank
  FROM ranked WHERE decile >= {RLHF_TOP_DECILE}
), rejected AS (
  SELECT source, doc_id AS rejected_id, n_chars AS rejected_score, rbot AS pair_rank
  FROM ranked WHERE decile <= 10 - {RLHF_TOP_DECILE} + 1
)
SELECT c.source, c.chosen_id, r.rejected_id,
       CAST(c.chosen_score AS BIGINT) AS chosen_score,
       CAST(r.rejected_score AS BIGINT) AS rejected_score,
       CAST(c.chosen_score - r.rejected_score AS BIGINT) AS margin
FROM chosen c JOIN rejected r
  ON r.source = c.source AND r.pair_rank = c.pair_rank
WHERE c.chosen_score > r.rejected_score
""",
)
def pipeline_rlhf_pair_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training: within
    each source, the k-th best document (top decile, by the quality
    proxy) pairs with the k-th worst (bottom decile), and only pairs
    with a strictly positive score margin survive — the
    max-margin-per-pair matching that makes preference data
    informative instead of noisy near-ties (Ouyang et al. '22 pair
    labeling, automated by ranking). Two windows over the SAME
    (source, score) sort — one exchange, both ranks computed in one
    pass — then a (source, rank) equi-join of two thin id+score
    projections. At 100 TB chosen/rejected are decile-sized id lists;
    the pairing join never touches text."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wd = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.ntile(10).over(w).alias("decile"),
        F.row_number().over(wd).alias("rtop"),
        F.row_number().over(w).alias("rbot"),
    )
    chosen = ranked.filter(F.col("decile") >= RLHF_TOP_DECILE).select(
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("n_chars").alias("chosen_score"),
        F.col("rtop").alias("pair_rank"),
    )
    rejected = ranked.filter(F.col("decile") <= 10 - RLHF_TOP_DECILE + 1).select(
        "source",
        F.col("doc_id").alias("rejected_id"),
        F.col("n_chars").alias("rejected_score"),
        F.col("rbot").alias("pair_rank"),
    )
    return (
        chosen.join(rejected, ["source", "pair_rank"])
        .filter(F.col("chosen_score") > F.col("rejected_score"))
        .select(
            "source",
            "chosen_id",
            "rejected_id",
            F.col("chosen_score").cast("bigint").alias("chosen_score"),
            F.col("rejected_score").cast("bigint").alias("rejected_score"),
            (F.col("chosen_score") - F.col("rejected_score")).cast("bigint").alias("margin"),
        )
    )


CTX_SIZES = (512, 2048, 8192)  # context windows audited, in tokens


@register(
    "pipeline_context_window_report",
    tags=("pipeline", "training"),
    oracle=f"""
WITH toks AS (
  SELECT source,
         len({WORDS_SQL}) AS n_tok
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(max(n_tok) AS BIGINT) AS max_tokens,
       {", ".join(
         f"CAST(count(*) FILTER (WHERE n_tok <= {c}) AS BIGINT) AS fit_{c}, "
         f"CAST(sum(CASE WHEN n_tok > {c} THEN n_tok - {c} ELSE 0 END) AS BIGINT) AS trunc_loss_{c}"
         for c in CTX_SIZES)}
FROM toks GROUP BY source
""",
)
def pipeline_context_window_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window fit audit: per source, how many documents fit each
    candidate training context ({', '.join(map(str, CTX_SIZES))} tokens)
    and how many tokens a hard truncation at that length would discard —
    the capacity-planning table read before choosing sequence length /
    packing strategy (`pipeline_pack_sequences` then implements the
    chosen one). One tokenize projection + one hash agg; conditional
    aggregates share the single pass."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", F.size(words("text")).alias("n_tok"))
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
    ]
    for c in CTX_SIZES:
        aggs.append(
            F.count(F.when(F.col("n_tok") <= c, 1)).cast("bigint").alias(f"fit_{c}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("n_tok") > c, F.col("n_tok") - c).otherwise(0)
            ).cast("bigint").alias(f"trunc_loss_{c}")
        )
    return base.groupBy("source").agg(*aggs)


BATCH_SIZE = 32  # sequences per training batch


@register(
    "pipeline_padding_waste_audit",
    tags=("pipeline", "training"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         len({WORDS_SQL}) AS n_tok
  FROM documents
), by_len AS (
  SELECT doc_id, n_tok,
         CAST((row_number() OVER (ORDER BY n_tok, doc_id) - 1) // {BATCH_SIZE} AS BIGINT) AS batch
  FROM toks
), by_arrival AS (
  SELECT doc_id, n_tok,
         CAST((row_number() OVER (ORDER BY doc_id) - 1) // {BATCH_SIZE} AS BIGINT) AS batch
  FROM toks
), w_len AS (
  SELECT CAST(sum(mx * n - tot) AS BIGINT) AS pad, CAST(sum(mx * n) AS BIGINT) AS cells
  FROM (SELECT batch, max(n_tok) AS mx, count(*) AS n, sum(n_tok) AS tot
        FROM by_len GROUP BY batch)
), w_arr AS (
  SELECT CAST(sum(mx * n - tot) AS BIGINT) AS pad, CAST(sum(mx * n) AS BIGINT) AS cells
  FROM (SELECT batch, max(n_tok) AS mx, count(*) AS n, sum(n_tok) AS tot
        FROM by_arrival GROUP BY batch)
)
SELECT 'length_sorted' AS strategy, pad AS pad_tokens, cells AS batch_cells,
       round(pad * 1.0 / cells, 4) AS waste_pct
FROM w_len
UNION ALL
SELECT 'arrival_order', pad, cells, round(pad * 1.0 / cells, 4) FROM w_arr
""",
)
def pipeline_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for fixed-batch training: every batch pads to
    its longest member, so waste = Σ(batch_max·rows − tokens). Comparing
    ARRIVAL-ORDER batching against LENGTH-SORTED batching quantifies
    what smart bucketing saves (the text twin of
    `multimodal_aspect_bucket`; PyTorch's `sortish` sampler / T5 packing
    exist because this number is routinely 30-50%). Both total orders
    run as the two-phase banded row_number (`ranks.two_phase_ordered`,
    VERDICT r7 #4 — token-length buckets for the sorted order, id-range
    buckets for arrival order; bit-identical to the one-task window),
    so even the audit never single-partitions the doc-cardinality
    frame. Integer token arithmetic end-to-end."""
    from .ranks import two_phase_ordered

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.size(words("text")).alias("n_tok"))

    def waste(order_cols, bucket, label):
        batched = two_phase_ordered(toks, bucket, order_cols, rn="_rn").withColumn(
            "batch", ((F.col("_rn") - 1) / BATCH_SIZE).cast("bigint")
        )
        per_batch = batched.groupBy("batch").agg(
            F.max("n_tok").alias("mx"),
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tok").alias("tot"),
        )
        return per_batch.agg(
            F.lit(label).alias("strategy"),
            F.sum(F.col("mx") * F.col("n") - F.col("tot")).cast("bigint").alias("pad_tokens"),
            F.sum(F.col("mx") * F.col("n")).cast("bigint").alias("batch_cells"),
            F.round(
                F.sum(F.col("mx") * F.col("n") - F.col("tot"))
                * 1.0
                / F.sum(F.col("mx") * F.col("n")),
                4,
            ).alias("waste_pct"),
        )

    return waste(
        [F.col("n_tok"), F.col("doc_id")], F.col("n_tok"), "length_sorted"
    ).unionByName(
        waste(
            [F.col("doc_id")],
            (F.col("doc_id") / 4096).cast("bigint"),
            "arrival_order",
        )
    )


EVAL_DROP_PCT = 20  # prediction corruption: drop tokens whose coin < 20%


@register(
    "eval_em_f1_scoring",
    tags=("pipeline", "eval"),
    oracle=f"""
WITH gold AS (
  SELECT doc_id, {WORDS_SQL} AS g
  FROM documents
), pred AS (
  SELECT doc_id, g,
         list_transform(
           list_filter(range(1, len(g) + 1),
             i -> {md5_int_sql("'ev:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 4)}
                  % 100 >= {EVAL_DROP_PCT}),
           i -> g[i]) AS p
  FROM gold
), gtok AS (
  SELECT doc_id, w, count(*) AS cg
  FROM (SELECT doc_id, unnest(g) AS w FROM pred) GROUP BY doc_id, w
), ptok AS (
  SELECT doc_id, w, count(*) AS cp
  FROM (SELECT doc_id, unnest(p) AS w FROM pred) GROUP BY doc_id, w
), overlap AS (
  SELECT g.doc_id, CAST(sum(least(g.cg, p.cp)) AS BIGINT) AS ov
  FROM gtok g JOIN ptok p ON p.doc_id = g.doc_id AND p.w = g.w
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(len(d.g) AS BIGINT) AS n_gold,
       CAST(len(d.p) AS BIGINT) AS n_pred,
       CASE WHEN d.g = d.p THEN 1 ELSE 0 END AS exact_match,
       round(2.0 * coalesce(o.ov, 0) / (len(d.g) + len(d.p)), 4) AS token_f1
FROM pred d LEFT JOIN overlap o ON o.doc_id = d.doc_id
WHERE len(d.g) > 0
""",
)
def eval_em_f1_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-harness answer scoring: exact match + token-level F1 between
    gold and predicted token sequences — the SQuAD metric pair every
    QA/extraction eval reports, computed corpus-parallel (predictions
    here are deterministic md5-corrupted copies of gold — ~{EVAL_DROP_PCT}%
    token drops — standing in for the model-output column a real run
    joins in). Token F1 uses the MULTISET overlap (Σ min of per-token
    counts), which the explode → per-(doc,token) count → join-min-sum
    pipeline computes exactly; when prediction ⊆ gold (drops only),
    precision is 1 and F1 reduces to 2|p|/(|g|+|p|). EM is a direct
    array equality. All shuffles carry (doc_id, token) counts — the
    ids-shape again; per-doc rows join back to corpus slices for the
    aggregate report."""
    docs = load_table(spark, sf_dir, "documents")
    gold = docs.select("doc_id", words("text").alias("g")).filter(F.size("g") > 0)
    doc = F.col("doc_id").cast("string")
    keep = lambda i: (
        md5_int(F.concat(F.lit("ev:"), doc, F.lit(":"), i.cast("string")), 4) % 100 >= EVAL_DROP_PCT
    )
    pred = gold.withColumn(
        "p",
        F.transform(
            F.filter(F.sequence(F.lit(1), F.size("g")), keep),
            lambda i: F.element_at("g", i),
        ),
    )
    gtok = pred.select("doc_id", F.explode("g").alias("w")).groupBy(
        "doc_id", "w"
    ).agg(F.count(F.lit(1)).alias("cg"))
    ptok = pred.select("doc_id", F.explode("p").alias("w")).groupBy(
        "doc_id", "w"
    ).agg(F.count(F.lit(1)).alias("cp"))
    overlap = (
        gtok.join(ptok, ["doc_id", "w"])
        .groupBy("doc_id")
        .agg(F.sum(F.least("cg", "cp")).cast("bigint").alias("ov"))
    )
    return (
        pred.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.size("g").cast("bigint").alias("n_gold"),
            F.size("p").cast("bigint").alias("n_pred"),
            F.when(F.col("g") == F.col("p"), 1).otherwise(0).alias("exact_match"),
            F.round(
                2.0 * F.coalesce(F.col("ov"), F.lit(0)) / (F.size("g") + F.size("p")),
                4,
            ).alias("token_f1"),
        )
    )


CONV_MAX_TURNS = 16  # SFT context cap, in turns


@register(
    "pipeline_conversation_assembly",
    tags=("pipeline", "training"),
    oracle=f"""
WITH turns AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(seq) AS BIGINT) AS n_turns_raw,
       CAST(least(len(seq), {CONV_MAX_TURNS}) AS BIGINT) AS n_turns_kept,
       CASE WHEN len(seq) > {CONV_MAX_TURNS} THEN 1 ELSE 0 END AS truncated,
       array_to_string(seq[1:{CONV_MAX_TURNS}], '>') AS dialog,
       seq[1] AS first_turn,
       seq[least(len(seq), {CONV_MAX_TURNS})] AS last_kept_turn
FROM turns
""",
)
def pipeline_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly for SFT-style training data: each user's
    event stream becomes one ordered dialog record, truncated at
    {CONV_MAX_TURNS} turns with the truncation flagged (the per-example
    form chat fine-tuning datasets ship in — here event types stand in
    for utterances; the shape, ordering and truncation mechanics are
    the real pipeline). Ordering rides `sort_array` over (ts, event_id,
    turn) structs — deterministic under the pinned tie rule, computed
    inside the aggregate without a separate window pass — and the
    per-user collect is bounded by the turn cap at the OUTPUT (state
    during the aggregate is the user's event count; a production run
    pre-truncates with a windowed rank when single users can exceed
    memory). One hash agg keyed by user."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.transform(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", F.col("event_type").alias("t")))
        ),
        lambda s: s["t"],
    )
    turns = ev.groupBy("user_id").agg(seq.alias("seq"))
    n = F.size("seq")
    kept = F.least(n, F.lit(CONV_MAX_TURNS))
    return turns.select(
        "user_id",
        n.cast("bigint").alias("n_turns_raw"),
        kept.cast("bigint").alias("n_turns_kept"),
        F.when(n > CONV_MAX_TURNS, 1).otherwise(0).alias("truncated"),
        F.array_join(F.slice("seq", 1, CONV_MAX_TURNS), ">").alias("dialog"),
        F.element_at("seq", 1).alias("first_turn"),
        F.element_at("seq", kept).alias("last_kept_turn"),
    )


@register(
    "pipeline_shard_mix_audit",
    tags=("pipeline", "training", "stats"),
    oracle=f"""
WITH assign AS (
  SELECT d.source,
         CAST({md5_int_sql("CAST(d.doc_id AS VARCHAR)", 6)}
              % {N_SHARDS} AS INT) AS shard
  FROM documents d
), cell AS (
  SELECT shard, source, CAST(count(*) AS BIGINT) AS n
  FROM assign GROUP BY 1, 2
), shard_tot AS (
  SELECT shard, CAST(sum(n) AS BIGINT) AS n_shard FROM cell GROUP BY 1
), src_tot AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_src,
         (SELECT count(*) FROM assign) AS n_tot
  FROM cell GROUP BY 1
), grid AS (
  SELECT st.shard, st.n_shard, so.source, so.n_src, so.n_tot,
         coalesce(c.n, 0) AS n,
         st.n_shard * so.n_src * 1e0 / so.n_tot AS expected
  FROM shard_tot st
  CROSS JOIN src_tot so
  LEFT JOIN cell c ON c.shard = st.shard AND c.source = so.source
)
SELECT shard,
       CAST(max(n_shard) AS BIGINT) AS n_docs,
       round(sum((n - expected) * (n - expected) / expected), 4) AS chi2,
       CAST(count(*) AS BIGINT) AS n_sources,
       round(max(abs(n - expected)), 4) AS max_abs_dev
FROM grid
GROUP BY shard
""",
)
def pipeline_shard_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-mix homogeneity audit for [[pipeline_shuffle_shard]]'s
    output: per shard, the chi-square of its source composition against
    the corpus-wide mix (expected cell = n_shard * n_src / n_tot) —
    the dataloader-health check that catches a broken shuffle (one
    shard full of a single domain trains a biased step; Zhao et al.
    data-mixing ablations make this measurable damage). A healthy
    hash-shuffle keeps every shard's chi2 near df = n_sources - 1.
    Shape: one (shard, source) hash agg + the shard x source grid
    (zero-filled, bounded by N_SHARDS * |sources| — metadata-sized);
    exact integer counts, e-notation literals, 4dp on the quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (hex_int(_doc_hash(), 6) % N_SHARDS).cast("int")
    assign = docs.select("source", shard.alias("shard"))
    cell = assign.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    shard_tot = cell.groupBy("shard").agg(F.sum("n").cast("bigint").alias("n_shard"))
    n_tot = assign.count()
    src_tot = cell.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_src")
    ).withColumn("n_tot", F.lit(n_tot))
    grid = (
        shard_tot.crossJoin(F.broadcast(src_tot))
        .join(cell, ["shard", "source"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn(
            "expected",
            F.col("n_shard") * F.col("n_src") * 1.0 / F.col("n_tot"),
        )
    )
    dev = F.col("n") - F.col("expected")
    return grid.groupBy("shard").agg(
        F.max("n_shard").cast("bigint").alias("n_docs"),
        F.round(F.sum(dev * dev / F.col("expected")), 4).alias("chi2"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.round(F.max(F.abs(dev)), 4).alias("max_abs_dev"),
    )


@register(
    "pipeline_instruction_dedup",
    tags=("pipeline", "dedup", "training"),
    oracle=f"""
WITH pairs AS (
  SELECT doc_id,
         array_to_string({SPLIT_LOWER_SQL}[1:8], ' ') AS instruction_key,
         greatest(len(string_split(text, ' ')) - 8, 0) AS response_tokens
  FROM documents
), ranked AS (
  SELECT instruction_key, doc_id, response_tokens,
         row_number() OVER (
           PARTITION BY instruction_key
           ORDER BY response_tokens DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY instruction_key) AS n_variants
  FROM pairs
)
SELECT instruction_key,
       CAST(n_variants AS BIGINT) AS n_variants,
       CAST(doc_id AS BIGINT) AS keeper_doc,
       CAST(response_tokens AS BIGINT) AS keeper_response_tokens
FROM ranked
WHERE rn = 1 AND n_variants > 1
""",
)
def pipeline_instruction_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-level dedup for SFT corpora: key each example by its
    normalized instruction prefix (first 8 lowercased tokens) and keep
    ONE response per instruction — the longest, tie-broken by doc_id —
    because near-identical prompts with different completions make
    gradient targets inconsistent (the LIMA/dedup-SFT finding; content
    dedup like [[dedup_exact]] misses them since the RESPONSES differ).
    Survivors with n_variants > 1 are exactly the collision report a
    curation run reviews. One window over the instruction-key shuffle;
    keys are short prefixes (ids + 8 tokens on the wire), the same
    keyed-survivorship shape as [[pipeline_url_canonical_dedup]]."""
    docs = load_table(spark, sf_dir, "documents")
    toks = split_lower("text")
    pairs = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 8), " ").alias("instruction_key"),
        F.greatest(
            F.size(toks) - 8, F.lit(0)
        ).alias("response_tokens"),
    )
    w = Window.partitionBy("instruction_key").orderBy(
        F.col("response_tokens").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("instruction_key")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_variants", F.count(F.lit(1)).over(wc)
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("n_variants") > 1)).select(
        "instruction_key",
        F.col("n_variants").cast("bigint").alias("n_variants"),
        F.col("doc_id").cast("bigint").alias("keeper_doc"),
        F.col("response_tokens").cast("bigint").alias("keeper_response_tokens"),
    )


@register(
    "pipeline_blocklist_filter",
    tags=("pipeline", "privacy", "text"),
    oracle=f"""
WITH hits AS (
  SELECT doc_id, source,
         len(list_filter({SPLIT_LOWER_SQL},
             w -> w IN ('error', 'crash', 'fail', 'leak', 'exploit'))) AS n_hits,
         len(list_filter(string_split(text, ' '), w -> trim(w) <> '')) AS n_tokens
  FROM documents
), flagged AS (
  SELECT doc_id, source, n_hits, n_tokens,
         CASE WHEN n_hits * 1e3 / greatest(n_tokens, 1) >= 5e0 THEN 1 ELSE 0 END
           AS blocked
  FROM hits
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(blocked) AS BIGINT) AS n_blocked,
       CAST(sum(n_hits) AS BIGINT) AS total_hits,
       round(sum(blocked) * 1e0 / count(*), 4) AS block_rate,
       round(sum(n_hits) * 1e3 / sum(n_tokens), 4) AS hits_per_1k_tokens
FROM flagged
GROUP BY source
""",
)
def pipeline_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening — the first safety gate of a pretraining
    pipeline (C4's badwords pass, reduced to its mechanics): per-doc
    hit counts against a term blocklist, a density threshold (>=5 hits
    per 1k tokens blocks the doc — density, not presence, because a
    single quoted term shouldn't kill a long document), and the
    per-source report (block rate + hit density) that decides whether
    a SOURCE is salvageable or dropped wholesale. The fixture
    blocklist is 5 benign corpus words standing in for the real list;
    the mechanics — tokenized membership scan, density gate, source
    rollup — are exactly production's. Pure list_filter/size codegen
    in-scan, one source-keyed agg, e-notation literals. Word-boundary
    exactness comes free from the tokenized match (a substring regex
    would flag 'class' for 'ass' — the classic blocklist bug)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["error", "crash", "fail", "leak", "exploit"]
    n_hits = F.size(
        F.filter(split_lower("text"), lambda w: w.isin(terms))
    )
    n_tokens = F.size(words("text"))
    flagged = docs.select(
        "source",
        n_hits.alias("n_hits"),
        n_tokens.alias("n_tokens"),
        F.when(
            n_hits * 1000.0 / F.greatest(n_tokens, F.lit(1)) >= 5.0, 1
        ).otherwise(0).alias("blocked"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("blocked").cast("bigint").alias("n_blocked"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        F.round(F.sum("blocked") * 1.0 / F.count(F.lit(1)), 4).alias("block_rate"),
        F.round(F.sum("n_hits") * 1000.0 / F.sum("n_tokens"), 4).alias(
            "hits_per_1k_tokens"
        ),
    )


@register(
    "pipeline_curriculum_order",
    tags=("pipeline", "llm"),
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter({SPLIT_LOWER_SQL},
                              w -> trim(w) <> '')) AS BIGINT) AS words,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars
  FROM documents
), per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(words) AS BIGINT) AS total_tokens,
         round(sum(chars) * 1e0 / sum(words), 6) AS difficulty
  FROM per_doc GROUP BY source
), ranked AS (
  SELECT source, n_docs, total_tokens, difficulty,
         CAST(row_number() OVER (ORDER BY difficulty, source) AS BIGINT)
           AS curriculum_rank
  FROM per_source
)
SELECT source, n_docs, total_tokens, difficulty, curriculum_rank,
       CAST(sum(total_tokens) OVER (ORDER BY curriculum_rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM ranked
""",
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule over corpus sources: rank sources
    easy-to-hard by a deterministic difficulty proxy (mean word length
    = chars/words from exact integer sums — longer-word text correlates
    with harder text, and unlike model-loss difficulty it needs no
    inference pass) and emit each source's position plus the CUMULATIVE
    token budget at that position — the table a curriculum-learning
    data loader consumes directly ("train on the first K tokens of
    this order"). Rank ties break on source name, so the schedule is
    total and reproducible ([[pipeline_domain_mix]] fixes the
    within-source order; this fixes the BETWEEN-source order).

    Scale: per-doc token/char counts are in-scan array exprs; one hash
    agg to source cardinality; both windows run over the tiny source
    frame. The schedule for a 100 TB corpus is the same ~dozens-row
    table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    per_doc = docs.select(
        "source",
        F.size(toks).cast("bigint").alias("words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("chars"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("total_tokens"),
        F.round(F.sum("chars") * 1.0 / F.sum("words"), 6).alias("difficulty"),
    )
    ranked = per_source.withColumn(
        "curriculum_rank",
        F.row_number()
        .over(Window.orderBy("difficulty", "source"))  # frame: bounded (source-grain, ~tens of sources)
        .cast("bigint"),
    )
    wcum = Window.orderBy("curriculum_rank").rowsBetween(  # frame: bounded (source-grain)
        Window.unboundedPreceding, Window.currentRow
    )
    return ranked.select(
        "source",
        "n_docs",
        "total_tokens",
        "difficulty",
        "curriculum_rank",
        F.sum("total_tokens").over(wcum).cast("bigint").alias("cum_tokens"),
    )


@register(
    "pipeline_span_corruption",
    tags=("pipeline", "text", "llm"),
    oracle=f"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len({WORDS_SQL})
           AS BIGINT) AS n_tok
  FROM documents
), blocks AS (
  SELECT doc_id, source, n_tok, b.b,
         CAST(least(20, n_tok - 20 * b.b) AS BIGINT) AS blocklen,
         CAST({md5_int_sql("'span-' || doc_id || '-' || b.b", 2)} % 18 AS BIGINT) AS h
  FROM docs,
       unnest(generate_series(0, CAST(ceil(n_tok / 20e0) AS BIGINT) - 1))
         AS b(b)
), masked AS (
  SELECT doc_id, source, n_tok,
         CASE WHEN h <= blocklen - 1
              THEN least(h + 2, blocklen - 1) - h + 1 ELSE 0 END AS n_masked,
         CASE WHEN h <= blocklen - 1 THEN 1 ELSE 0 END AS n_spans
  FROM blocks
), per_doc AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_masked) AS BIGINT) AS n_masked,
         CAST(sum(n_spans) AS BIGINT) AS n_spans
  FROM masked GROUP BY doc_id, source, n_tok
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_masked) AS BIGINT) AS n_masked,
       CAST(sum(n_spans) AS BIGINT) AS n_spans,
       round(sum(n_masked) * 1e0 / sum(n_tok), 6) AS corruption_rate,
       round(sum(n_masked) * 1e0 / sum(n_spans), 4) AS avg_span_len
FROM per_doc GROUP BY source
""",
)
def pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning (Raffel et al. 2020): carve
    each document into 20-token blocks, drop one deterministic <=3-token
    span per block (start = hash(doc, block) % 18, clipped to the block
    tail), and report the per-source corruption rate and realized mean
    span length — the masking-budget audit a denoising-pretraining
    pipeline runs before materializing corrupted examples, and the
    span-level complement to [[pipeline_mlm_masking]] (independent
    per-token BERT masking). Block-locality is the scale trick: span
    starts depend only on (doc_id, block), so masks need NO sequential
    scan over tokens — in fact no token explode at all: every count
    derives from the token-COUNT and pure position arithmetic
    (integer-exact on both engines). Realized rate fluctuates in a band
    around the nominal 15% (3/20): full blocks mask exactly 3, tail
    blocks mask 0..3 of fewer tokens (a 4-token tail can be 75%
    masked); the test pins the band and span length <= 3.

    Scale: the only per-row work is one split-length; the block
    expansion is |docs| * ceil(len/20) narrow integer rows. At 100 TB
    text never shuffles — only (source, counts) aggregates move."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(words("text"))
        .cast("bigint")
        .alias("n_tok"),
    )
    blocks = docs.select(
        "doc_id",
        "source",
        "n_tok",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("n_tok") / 20.0).cast("bigint") - 1)
        ).alias("b"),
    ).select(
        "doc_id",
        "source",
        "n_tok",
        F.least(F.lit(20), F.col("n_tok") - 20 * F.col("b")).cast("bigint").alias(
            "blocklen"
        ),
        (
            md5_int(
                F.concat(
                    F.lit("span-"), F.col("doc_id").cast("string"), F.lit("-"), F.col("b").cast("string")
                ),
                2,
            )
            % 18
        ).alias("h"),
    )
    masked = blocks.select(
        "doc_id",
        "source",
        "n_tok",
        F.when(
            F.col("h") <= F.col("blocklen") - 1,
            F.least(F.col("h") + 2, F.col("blocklen") - 1) - F.col("h") + 1,
        )
        .otherwise(0)
        .alias("n_masked"),
        F.when(F.col("h") <= F.col("blocklen") - 1, 1).otherwise(0).alias("n_spans"),
    )
    per_doc = masked.groupBy("doc_id", "source", "n_tok").agg(
        F.sum("n_masked").cast("bigint").alias("n_masked"),
        F.sum("n_spans").cast("bigint").alias("n_spans"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_masked").cast("bigint").alias("n_masked"),
        F.sum("n_spans").cast("bigint").alias("n_spans"),
        F.round(F.sum("n_masked") * 1.0 / F.sum("n_tok"), 6).alias("corruption_rate"),
        F.round(F.sum("n_masked") * 1.0 / F.sum("n_spans"), 4).alias("avg_span_len"),
    )


PACK_C = 512  # bin capacity (tokens)
PACK_SHARD = 250  # docs per packing shard (bounded forever: doc_id is dense)


@register(
    "pipeline_greedy_packing",
    tags=("pipeline", "llm"),
    oracle=f"""
WITH d AS (
  SELECT source, doc_id, doc_id // {PACK_SHARD} AS shard,
         least(CAST(len({WORDS_SQL}) AS BIGINT),
               {PACK_C}) AS t
  FROM documents
), folded AS (
  SELECT source, shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(t) AS BIGINT) AS tok,
         list_reduce(
           list_prepend(CAST({PACK_C} + 1 AS BIGINT),
                        list(t ORDER BY doc_id)),
           (acc, x) -> CASE WHEN acc % 1000000 + x > {PACK_C}
                            THEN (acc // 1000000 + 1) * 1000000 + x
                            ELSE acc + x END) AS state
  FROM d GROUP BY source, shard
), shards AS (
  SELECT source, n_docs, tok,
         state // 1000000 AS bins,
         CAST((tok + {PACK_C} - 1) // {PACK_C} AS BIGINT) AS lower_bound
  FROM folded
)
SELECT source,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(sum(bins) AS BIGINT) AS bins_used,
       CAST(sum(lower_bound) AS BIGINT) AS lower_bound,
       CAST(sum(bins) - sum(lower_bound) AS BIGINT) AS extra_bins,
       round(sum(tok) * 1e0 / (sum(bins) * {PACK_C}), 6) AS utilization
FROM shards
GROUP BY source
""",
)
def pipeline_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for pretraining batches: concatenate
    documents in arrival (doc_id) order into {PACK_C}-token bins,
    opening a new bin when the next document would overflow — the
    first-fit packing every LLM data loader runs to keep padding off
    the accelerator, with the padding bill it implies: bins_used vs
    the ceil(total/{PACK_C}) lower bound and the realized utilization.
    The sequential fold no windowed SQL expresses runs INSIDE each
    bounded shard of {PACK_SHARD} docs as a single-INTEGER-state
    aggregate (state = bins*1e6 + fill, seeded fill={PACK_C}+1 so the
    first doc opens bin 1): Spark `F.aggregate` over the doc_id-sorted
    token list, DuckDB `list_reduce` over the same list. The integer
    encoding deliberately sidesteps the DuckDB list_reduce IN-PLACE
    STRUCT hazard pinned in `temporal_holt_smoothing` — scalar bigint
    accumulators copy, struct fields mutate. Oversized docs cap at
    {PACK_C} (they'd be split upstream), keeping fill < 1e6 exact.

    Scale: packing is shard-local by construction (the loader packs
    within a file/worker anyway), so shards of {PACK_SHARD} dense
    doc_ids keep every fold bounded whatever the corpus size — more
    shards, never bigger ones; one exchange to the shard grain, then a
    per-source rollup of integer counters."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.floor(F.col("doc_id") / PACK_SHARD).cast("bigint").alias("shard"),
        F.least(
            F.size(words("text")),
            F.lit(PACK_C),
        )
        .cast("bigint")
        .alias("t"),
    )
    folded = d.groupBy("source", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("t").cast("bigint").alias("tok"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "t"))),
                lambda s: s["t"],
            ),
            F.lit(PACK_C + 1).cast("bigint"),
            lambda acc, x: F.when(
                acc % 1000000 + x > PACK_C, (F.floor(acc / 1000000) + 1) * 1000000 + x
            ).otherwise(acc + x),
        )
        .cast("bigint")
        .alias("state"),
    )
    shards = folded.select(
        "source",
        "n_docs",
        "tok",
        F.floor(F.col("state") / 1000000).cast("bigint").alias("bins"),
        F.floor((F.col("tok") + PACK_C - 1) / PACK_C).cast("bigint").alias(
            "lower_bound"
        ),
    )
    return shards.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.sum("bins").cast("bigint").alias("bins_used"),
        F.sum("lower_bound").cast("bigint").alias("lower_bound"),
        (F.sum("bins") - F.sum("lower_bound")).cast("bigint").alias("extra_bins"),
        F.round(
            F.sum("tok") * 1.0 / (F.sum("bins") * PACK_C), 6
        ).alias("utilization"),
    )


@register(
    "pipeline_mixture_temperature",
    tags=("pipeline", "llm"),
    oracle=f"""
WITH lang AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(len({WORDS_SQL}) AS BIGINT)) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total FROM lang
), alphas AS (
  SELECT unnest([2e-1, 5e-1, 7e-1, 1e0]) AS alpha
), powed AS (
  SELECT a.alpha, l.lang, l.n_docs, l.n_tokens,
         pow(l.n_tokens, a.alpha) AS p
  FROM lang l CROSS JOIN alphas a
), norm AS (
  SELECT alpha, sum(p) AS z FROM powed GROUP BY alpha
)
SELECT p.alpha, p.lang, p.n_docs, p.n_tokens,
       round(p.p / n.z, 6) AS weight,
       round(p.p / n.z * (SELECT t_total FROM tot) / p.n_tokens, 4)
         AS effective_epochs,
       round(p.n_tokens * 1e0 / (SELECT t_total FROM tot), 6) AS natural_share
FROM powed p JOIN norm n ON n.alpha = p.alpha
""",
)
def pipeline_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-sampling weights — the multilingual
    mixture sheet (mBERT/XLM-R exponential smoothing, mT5 alpha-scaling):
    w_l proportional to (tokens_l)^alpha for alpha in {0.2, 0.5, 0.7,
    1.0}. alpha=1 is natural sampling (head languages drown the tail),
    alpha->0 is uniform (tail languages epoch dozens of times and
    memorize); the emitted effective_epochs = w_l * budget / tokens_l
    column is exactly the quantity the practitioner caps (>4-5 epochs
    on a tail language = diminishing returns, Muennighoff 2023) — read
    next to [[pipeline_curriculum_order]]'s source schedule and
    [[pipeline_greedy_packing]]'s bin bill. One pow() per (lang, alpha)
    cell from exact integer token counts; the normalizer sums a
    languages-bounded frame, and every emitted ratio is rounded at
    6dp — the repo's cross-engine float discipline.

    Scale: one map-side-combined agg to the language grain, then
    constant-size algebra on a |langs| x 4 lattice; the corpus is
    never rescanned per alpha."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(words("text"))
    lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(toks.cast("bigint")).cast("bigint").alias("n_tokens"),
    )
    tot = lang.agg(F.sum("n_tokens").cast("bigint").alias("t_total"))
    alphas = spark.createDataFrame(
        [(0.2,), (0.5,), (0.7,), (1.0,)], ["alpha"]
    )
    powed = lang.crossJoin(F.broadcast(alphas)).select(
        "alpha", "lang", "n_docs", "n_tokens",
        F.pow(F.col("n_tokens"), F.col("alpha")).alias("p"),
    )
    norm = powed.groupBy("alpha").agg(F.sum("p").alias("z"))
    return (
        powed.join(norm, "alpha")
        .crossJoin(F.broadcast(tot))
        .select(
            "alpha",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("p") / F.col("z"), 6).alias("weight"),
            F.round(
                F.col("p") / F.col("z") * F.col("t_total") / F.col("n_tokens"), 4
            ).alias("effective_epochs"),
            F.round(F.col("n_tokens") * 1.0 / F.col("t_total"), 6).alias(
                "natural_share"
            ),
        )
    )


ABLATION_CUTS = (0, 20, 40, 60, 80)  # stopword-ratio percentile-ish cuts (x1000)


@register(
    "pipeline_quality_ablation_grid",
    tags=("pipeline", "llm", "text"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len({WORDS_SQL}) AS BIGINT) AS n_tokens,
         CAST(round(len(list_filter({SPLIT_LOWER_SQL},
                    w -> w IN ('the','of','and','to','a','in','is','it',
                               'was','for'))) * 1000.0
               / greatest(len({WORDS_SQL}), 1)) AS BIGINT) AS sw_x1000
  FROM documents
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS all_docs,
         CAST(sum(n_tokens) AS BIGINT) AS all_tokens
  FROM scored
), cuts AS (
  SELECT unnest([0, 20, 40, 60, 80]) AS cut
)
SELECT c.cut AS min_stopword_x1000,
       CAST(count(*) FILTER (WHERE s.sw_x1000 >= c.cut) AS BIGINT)
         AS n_docs,
       CAST(coalesce(sum(s.n_tokens) FILTER (WHERE s.sw_x1000 >= c.cut), 0)
            AS BIGINT) AS n_tokens,
       round(count(*) FILTER (WHERE s.sw_x1000 >= c.cut) * 1e0
             / (SELECT all_docs FROM tot), 6) AS doc_retention,
       round(coalesce(sum(s.n_tokens) FILTER (WHERE s.sw_x1000 >= c.cut), 0)
             * 1e0 / (SELECT all_tokens FROM tot), 6) AS token_retention,
       CAST(count(DISTINCT s.lang) FILTER (WHERE s.sw_x1000 >= c.cut)
            AS BIGINT) AS langs_retained
FROM scored s CROSS JOIN cuts c
GROUP BY c.cut
""",
)
def pipeline_quality_ablation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation sheet: before committing a 100 TB corpus
    to one stopword-ratio cutoff, sweep the candidate thresholds and
    read off what each KEEPS — document retention, TOKEN retention (the
    number the training budget actually feels —
    [[pipeline_mixture_temperature]] consumes these token counts), and
    how many languages survive (aggressive English-tuned stopword
    filters silently delete other languages; the langs_retained column
    is that canary). The score is [[text_quality_score]]'s stopword
    ratio quantized to EXACT integer thousandths, so threshold
    comparisons are integer compares — no float boundary can flip a
    document between cells cross-engine. One scan, one grid.

    Scale: the scan reduces each doc to (lang, n_tokens, score) before
    the 5-cut lattice (a broadcast cross join); counts are map-side
    combined. The grid form beats 5 separate filter-runs by 5x on scan
    cost — the whole point of ablation-as-a-query."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    sw = F.size(
        F.filter(
            split_lower("text"),
            lambda w: w.isin(
                "the", "of", "and", "to", "a", "in", "is", "it", "was", "for"
            ),
        )
    )
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(sw * 1000.0 / F.greatest(F.size(toks), F.lit(1)))
        .cast("bigint")
        .alias("sw_x1000"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("all_docs"),
        F.sum("n_tokens").cast("bigint").alias("all_tokens"),
    )
    cuts = spark.createDataFrame([(c,) for c in ABLATION_CUTS], "cut int")
    keep = F.col("sw_x1000") >= F.col("cut")
    return (
        scored.crossJoin(F.broadcast(cuts))
        .groupBy(F.col("cut").alias("min_stopword_x1000"))
        .agg(
            F.count_if(keep).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.when(keep, F.col("n_tokens"))), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.count_distinct(F.when(keep, F.col("lang"))).cast("bigint").alias(
                "langs_retained"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "min_stopword_x1000",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") * 1.0 / F.col("all_docs"), 6).alias(
                "doc_retention"
            ),
            F.round(F.col("n_tokens") * 1.0 / F.col("all_tokens"), 6).alias(
                "token_retention"
            ),
            "langs_retained",
        )
    )
