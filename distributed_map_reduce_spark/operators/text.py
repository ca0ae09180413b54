"""Text-analysis operators for a large-scale training-data pipeline:
tokenization/word count, language ID (stopword-hit heuristic), quality
scoring, token statistics (whitespace + BPE-ish regex), and document
fingerprinting.

All expressions are JVM-side built-ins (split/explode/regexp/aggregate)
— no Python in the hot path; at 100 TB these are embarrassingly parallel
scan→project pipelines with at most one exchange for the final group-by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_sql
from ..functions.normalize import (
    FINGERPRINT_SQL,
    NORMALIZED_SQL,
    SPLIT_LOWER_SQL,
    WORDS_SQL,
    WS,
    fingerprint,
    normalized,
    split_lower,
    words,
)
from ..registry import register
from ..sources import load_table

# Tiny embedded stopword lexicons for the language-ID heuristic (public
# high-frequency word lists; intentionally minimal — the operator shape,
# not the lexicon, is what scales).
_LANG_LEXICON: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "a", "in", "is", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "un", "les", "des", "en", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
}

_PUNCT_RE = r"[.,;:!?()\[\]{}-]"
_BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "text_wordcount_topn",
    bench=True,
    tags=("text",),
    oracle=f"""
SELECT w AS word, count(*) AS n
FROM (SELECT unnest({SPLIT_LOWER_SQL}) AS w FROM documents)
WHERE trim(w) <> ''
GROUP BY w
ORDER BY n DESC, w
LIMIT 50
""",
)
def text_wordcount_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative word count (explode→group→top-n): the Spark-native twin
    of the reference's word-count MapReduce (`test/mr.test.js:160-243`) —
    partial aggregation + TakeOrdered instead of per-key HTTP shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(split_lower("text")).alias("word"))
        .filter(F.trim("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(50)
    )


def _stopword_hits_sql(lang: str) -> str:
    lexicon = ", ".join(f"'{w}'" for w in _LANG_LEXICON[lang])
    return f"len(list_filter({SPLIT_LOWER_SQL}, w -> w IN ({lexicon})))"


@register(
    "text_langid",
    tags=("text",),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_stopword_hits_sql('en')} AS hits_en,
         {_stopword_hits_sql('es')} AS hits_es,
         {_stopword_hits_sql('fr')} AS hits_fr,
         {_stopword_hits_sql('de')} AS hits_de
  FROM documents
)
SELECT doc_id, lang, hits_en, hits_es, hits_fr, hits_de,
       CASE greatest(hits_en, hits_es, hits_fr, hits_de)
            WHEN hits_en THEN 'en'
            WHEN hits_es THEN 'es'
            WHEN hits_fr THEN 'fr'
            ELSE 'de' END AS predicted_lang
FROM scored
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-hit counts per embedded lexicon; argmax
    with a fixed precedence (en>es>fr>de) so ties are deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = split_lower("text")
    hits = {
        lang: F.size(
            F.filter(toks, lambda w: w.isin(_LANG_LEXICON[lang]))
        ).alias(f"hits_{lang}")
        for lang in _LANG_LEXICON
    }
    scored = docs.select("doc_id", "lang", *hits.values())
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in _LANG_LEXICON])
    pred = (
        F.when(F.col("hits_en") == best, "en")
        .when(F.col("hits_es") == best, "es")
        .when(F.col("hits_fr") == best, "fr")
        .otherwise("de")
    )
    return scored.withColumn("predicted_lang", pred)


@register(
    "text_quality_score",
    tags=("text",),
    oracle=f"""
SELECT doc_id,
       length(text)                                                      AS n_chars_actual,
       len(list_filter(string_split(text, ' '), w -> trim(w) <> ''))     AS n_tokens,
       round(length(text) * 1.0 / greatest(len(list_filter(string_split(text, ' '), w -> trim(w) <> '')), 1), 4) AS avg_token_len,
       len(regexp_extract_all(text, '{_PUNCT_RE}'))                      AS n_punct,
       len(regexp_extract_all(text, '[0-9]'))                            AS n_digits,
       round(len(list_filter({SPLIT_LOWER_SQL}, w -> w IN ('the','of','and','to','a','in','is','it','was','for'))) * 1.0
             / greatest(len(list_filter(string_split(text, ' '), w -> trim(w) <> '')), 1), 4) AS stopword_ratio,
       CASE WHEN length(text) BETWEEN 100 AND 1000
             AND len(regexp_extract_all(text, '[0-9]')) * 1.0 / greatest(length(text), 1) < 0.3
            THEN 1 ELSE 0 END                                            AS quality_pass
FROM documents
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: length, token stats, punctuation/digit density,
    stopword ratio, and a pass/fail gate — the standard pre-training
    filter shape (C4/Gopher-style rules)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words("text"))
    n_chars = F.length("text")
    n_digits = F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
    stop_hits = F.size(
        F.filter(split_lower("text"), lambda w: w.isin(_LANG_LEXICON["en"]))
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars * 1.0 / F.greatest(n_tokens, F.lit(1)), 4).alias("avg_token_len"),
        F.size(F.regexp_extract_all("text", F.lit(_PUNCT_RE), 0)).alias("n_punct"),
        n_digits.alias("n_digits"),
        F.round(stop_hits * 1.0 / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
        F.when(
            n_chars.between(100, 1000) & (n_digits * 1.0 / F.greatest(n_chars, F.lit(1)) < 0.3),
            1,
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


@register(
    "text_token_stats",
    tags=("text",),
    oracle=f"""
SELECT source,
       count(*)                                               AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), w -> trim(w) <> ''))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_ISH_RE}'))) AS BIGINT) AS bpeish_tokens,
       round(avg(length(text)), 4)                            AS avg_chars
FROM documents
GROUP BY source
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per source: whitespace tokens vs BPE-ish regex
    tokens (letters / digits / punctuation runs) — the budget metric for
    a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(words("text"))
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_ISH_RE), 0))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws).alias("ws_tokens"),
        F.sum(bpe).alias("bpeish_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


@register(
    "text_fingerprint",
    tags=("text", "dedup"),
    oracle=f"""
SELECT {FINGERPRINT_SQL} AS fingerprint,
       count(*)     AS n_docs,
       min(doc_id)  AS canonical_doc
FROM documents
GROUP BY 1
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text;
    groups are exact-duplicate clusters (canonical = min doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc"))
    )


@register(
    "text_tfidf_topterms",
    tags=("text",),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({WORDS_SQL}) AS w
  FROM documents
), tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w
), df AS (
  SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.w, round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
  FROM tf JOIN df USING (w) CROSS JOIN n
)
SELECT doc_id, w AS term, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn
  FROM scored
) WHERE rn <= 3 AND doc_id <= 100
""",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic MapReduce-era
    workload as three aggregates and a join on the term key. The
    document-frequency side is vocabulary-sized and grows with the
    corpus (Heaps' law ⇒ GBs at 100 TB), so no hardcoded broadcast
    hint — AQE broadcasts at small SF and shuffles once the vocabulary
    outgrows the threshold. Full text never shuffles; only (key, count)
    pairs move."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(words("text")).alias("w"),
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; the only driver-side value
    scored = tf.join(df, "w").select(
        "doc_id",
        "w",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "w"))
    return (
        scored.withColumn("rn", rn)
        .filter((F.col("rn") <= 3) & (F.col("doc_id") <= 100))
        .select("doc_id", F.col("w").alias("term"), "tfidf")
    )


# Minimal public sentiment lexicon (AFINN-style sign-only subset) — the
# operator shape (broadcast lexicon join + per-doc score) is what scales,
# not the lexicon.
_SENTIMENT_LEXICON: dict[str, int] = {
    # terms chosen from the synthetic corpus vocabulary so the operator
    # produces non-trivial hits; a real AFINN/VADER lexicon swaps in.
    "fast": 2, "small": 1, "stable": 2, "correct": 2, "efficient": 2,
    "slow": -2, "skew": -1, "spill": -2, "stale": -1, "error": -2,
}


@register(
    "text_sentiment_lexicon",
    tags=("text",),
    oracle=f"""
WITH lex(w, score) AS (
  VALUES {", ".join(f"('{w}', {s})" for w, s in sorted(_SENTIMENT_LEXICON.items()))}
), tok AS (
  SELECT doc_id, unnest({WORDS_SQL}) AS w
  FROM documents
)
SELECT doc_id,
       CAST(coalesce(sum(score), 0) AS BIGINT) AS sentiment,
       count(score)            AS n_hits
FROM tok LEFT JOIN lex USING (w)
GROUP BY doc_id
HAVING count(score) > 0
""",
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment scoring: tokens ⋈ broadcast lexicon → per-doc
    score sum (the EDBT'16-style lexicon pattern; a real lexicon swaps
    in without changing the plan)."""
    docs = load_table(spark, sf_dir, "documents")
    spark_lex = docs.sparkSession.createDataFrame(
        sorted(_SENTIMENT_LEXICON.items()), "w string, score int"
    )
    tok = docs.select(
        "doc_id",
        F.explode(words("text")).alias("w"),
    )
    return (
        tok.join(F.broadcast(spark_lex), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum("score"), F.lit(0)).alias("sentiment"),
            F.count("score").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
    )


WINNOW_K = 8   # character k-gram length
WINNOW_W = 16  # winnowing window (k-grams per window)


@register(
    "text_winnowing_fingerprints",
    tags=("text", "dedup"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, {NORMALIZED_SQL} AS txt
  FROM documents WHERE doc_id <= 50
), hs AS (
  SELECT doc_id,
         list_transform(range(1, length(txt) - {WINNOW_K - 2}),
                        i -> {md5_int_sql(f"substr(txt, i, {WINNOW_K})")}) AS h
  FROM t WHERE length(txt) >= {WINNOW_K}
), wins AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(h) - {WINNOW_W - 2}),
                               j -> list_aggregate(h[j:j+{WINNOW_W - 1}], 'min'))) AS fp
  FROM hs WHERE len(h) >= {WINNOW_W}
)
SELECT DISTINCT doc_id, fp FROM wins
""",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (the MOSS
    algorithm): hash every character {K}-gram, keep the min hash of each
    {W}-gram window — a fingerprint set robust to partial overlap and
    reordering, unlike whole-document hashing.

    Relational shape: explode k-gram positions to rows (one md5 each,
    vectorized), rolling min via a rows-frame window — no nested array
    expressions (an array-of-slices formulation re-evaluates the text
    normalization per element and runs ~50x slower)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    txt = normalized("text")
    t = docs.select("doc_id", txt.alias("txt")).filter(F.length("txt") >= WINNOW_K)
    grams = t.select(
        "doc_id",
        "txt",
        F.explode(F.sequence(F.lit(1), F.length("txt") - (WINNOW_K - 1))).alias("i"),
    ).select(
        "doc_id",
        "i",
        md5_int(F.col("txt").substr(F.col("i"), F.lit(WINNOW_K))).alias("h"),
    )
    roll = W.partitionBy("doc_id").orderBy("i").rowsBetween(W.currentRow, WINNOW_W - 1)
    full = W.partitionBy("doc_id")
    wins = (
        grams.select(
            "doc_id",
            "i",
            F.min("h").over(roll).alias("fp"),
            F.count(F.lit(1)).over(full).alias("n_grams"),
        )
        .filter(F.col("i") <= F.col("n_grams") - (WINNOW_W - 1))
        .select("doc_id", "fp")
    )
    return wins.distinct()


@register(
    "text_repetition_ratio",
    tags=("text", "quality"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         {WORDS_SQL} AS t
  FROM documents
), tri AS (
  SELECT doc_id, t,
         list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
  FROM toks WHERE len(t) >= 3
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_words,
       round(1.0 - len(list_distinct(t)) * 1.0 / len(t), 4) AS word_rep,
       round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 4) AS trigram_rep
FROM tri
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signal: fraction of duplicated words and
    duplicated word-trigrams per document — the standard boilerplate /
    degenerate-text detector a pretraining filter thresholds on (high
    trigram_rep ⇒ templated or looping text). Pure array expressions in
    one codegen'd projection; no explode, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", words("text").alias("t")).filter(F.size("t") >= 3)
    idx = F.sequence(F.lit(1), F.size("t") - 2)
    g = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at("t", i), F.element_at("t", i + 1), F.element_at("t", i + 2)
        ),
    )
    withg = base.withColumn("g", g)
    return withg.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_words"),
        F.round(1.0 - F.size(F.array_distinct("t")) / F.size("t"), 4).alias("word_rep"),
        F.round(1.0 - F.size(F.array_distinct("g")) / F.size("g"), 4).alias("trigram_rep"),
    )


BOILERPLATE_K = 8  # n-gram width for cross-document boilerplate detection
BOILERPLATE_MIN_DOCS = 3


@register(
    "text_boilerplate_ngrams",
    tags=("text", "quality", "dedup"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {WORDS_SQL} AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - {BOILERPLATE_K - 2}),
                i -> array_to_string(t[i:i+{BOILERPLATE_K - 1}], ' '))) AS g
  FROM toks WHERE len(t) >= {BOILERPLATE_K}
)
SELECT g AS ngram, CAST(count(*) AS BIGINT) AS n_docs
FROM grams
GROUP BY g
HAVING count(*) >= {BOILERPLATE_MIN_DOCS}
""",
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the C4 / RefinedWeb 'remove
    content repeated across many pages' step, adapted to flat text):
    word {BOILERPLATE_K}-grams appearing in ≥ {BOILERPLATE_MIN_DOCS}
    distinct documents. Explode to distinct (doc, gram) rows, one
    count aggregate — at 100 TB this is the same ids-only shuffle shape
    as MinHash (the output set is what the cleaning pass anti-joins)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", words("text").alias("t")).filter(F.size("t") >= BOILERPLATE_K)
    idx = F.sequence(F.lit(1), F.size("t") - (BOILERPLATE_K - 1))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at("t", i + j) for j in range(BOILERPLATE_K)]
        ),
    )
    grams = base.select("doc_id", F.explode(gram).alias("g")).dropDuplicates(
        ["doc_id", "g"]
    )
    return (
        grams.groupBy(F.col("g").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


@register(
    "text_zipf_fit",
    tags=("text", "stats"),
    oracle=f"""
WITH wc AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(list_filter({SPLIT_LOWER_SQL}, x -> x <> '')) AS w
        FROM documents)
  GROUP BY w
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM wc
)
SELECT CAST(count(*) AS BIGINT)                      AS vocab_size,
       round(regr_slope(ln(c), ln(r)), 4)            AS zipf_slope,
       round(regr_r2(ln(c), ln(r)), 4)               AS zipf_r2
FROM ranked
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics health check: fit log(freq) ~ log(rank) over
    the full vocabulary — natural text tracks Zipf's law (slope ≈ −1);
    synthetic/templated corpora deviate, so the slope is a cheap
    distribution-shift alarm for an ingest pipeline. Word count → rank
    window → one regr_slope aggregate, all JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    wc = (
        docs.select(F.explode(words("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = wc.withColumn(
        "r", F.row_number().over(W.orderBy(F.col("c").desc(), F.col("w")))  # frame: bounded (vocab-grain)
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.regr_slope(F.log("c"), F.log("r")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("c"), F.log("r")), 4).alias("zipf_r2"),
    )


@register(
    "text_unigram_surprisal",
    bench=True,
    tags=("text", "quality"),
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest(list_filter({SPLIT_LOWER_SQL}, x -> x <> '')) AS word
  FROM documents
), freq AS (
  SELECT word, count(*) AS c FROM w GROUP BY word
), tot AS (
  SELECT sum(c) AS t FROM freq
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(c * 1.0 / (SELECT t FROM tot))), 4) AS mean_surprisal
FROM w JOIN freq USING (word)
GROUP BY doc_id
""",
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM surprisal per document — the
    perplexity-style quality filter (CCNet recipe) with the corpus itself
    as the language model: documents whose words are globally rare score
    high (gibberish/noise), boilerplate scores low.

    Scale shape: token explode → vocab-keyed count (map-side combine
    shrinks it to vocab size) → shuffle join of tokens against vocab on
    word → per-doc re-aggregate. Two keyed exchanges total; the total-
    token scalar broadcasts. No LM download, no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    freq = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    scored = w.join(freq, "word").crossJoin(F.broadcast(tot))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(-F.log(F.col("c") / F.col("t"))), 4).alias("mean_surprisal"),
    )


@register(
    "text_inverted_index",
    tags=("text", "search"),
    oracle=f"""
WITH per_doc AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id,
               unnest({WORDS_SQL}) AS term
        FROM documents)
  GROUP BY term, doc_id
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       to_json((list(doc_id ORDER BY doc_id))[1:5]) AS postings_head
FROM per_doc GROUP BY term HAVING count(*) >= 5
""",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the search-engine primitive: term →
    (document frequency, total term frequency, head of the sorted
    posting list). Posting heads are emitted as JSON strings so the
    result stays scalar-typed for the driver compare.

    Scale shape: two-level aggregation — (term, doc_id) partial counts
    combine map-side before the term-keyed exchange, so the shuffle
    carries one row per distinct (term, doc) pair, not one per token.
    At 100 TB the posting lists themselves would go to a bucketed sink
    keyed by term (write-side sort gives contiguous postings); the
    sorted-head here proves the ordering contract."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words("text")).alias("term"))
    per_doc = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        per_doc.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
            F.to_json(F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5)).alias(
                "postings_head"
            ),
        )
        .filter(F.col("df") >= 5)
    )


TRIGRAM_TOP_N = 50


@register(
    "text_trigram_lm",
    tags=("text", "lm"),
    oracle=f"""
WITH toks AS (
  SELECT {WORDS_SQL} AS t
  FROM documents
), tri AS (
  SELECT unnest(list_transform(range(1, len(t) - 1),
                i -> {{'w1': t[CAST(i AS INT)],
                      'w2': t[CAST(i AS INT) + 1],
                      'w3': t[CAST(i AS INT) + 2]}})) AS u
  FROM toks WHERE len(t) >= 3
), c3 AS (
  SELECT u.w1 AS w1, u.w2 AS w2, u.w3 AS w3, CAST(count(*) AS BIGINT) AS c3
  FROM tri GROUP BY 1, 2, 3
), v AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest({WORDS_SQL}) AS w
        FROM documents)
)
SELECT w1, w2, w3, c3,
       round((c3 + 1.0) / (sum(c3) OVER (PARTITION BY w1, w2) + (SELECT v FROM v)), 6)
           AS p_smoothed
FROM c3
ORDER BY c3 DESC, w1, w2, w3 LIMIT {TRIGRAM_TOP_N}
""",
)
def text_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram language model: count every trigram, estimate the
    add-1-smoothed conditional probability P(w3 | w1 w2) =
    (c(w1w2w3)+1)/(c(w1w2·)+V), return the top-50 trigrams. The
    n-gram-LM statistics step of a perplexity-based quality filter,
    computed on the corpus itself.

    Scale shape: trigram explode combines map-side into (w1,w2,w3)
    counts before the one keyed exchange; the context total c(w1w2·) is
    a window over the same partitioning (no second shuffle of raw
    trigrams); V is a scalar broadcast. Total order (count desc, then
    lexicographic) makes the top-N deterministic on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = words("text")
    base = docs.select(t.alias("t")).filter(F.size("t") >= 3)
    idx = F.sequence(F.lit(1), F.size("t") - 2)
    tri = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at("t", i).alias("w1"),
            F.element_at("t", i + 1).alias("w2"),
            F.element_at("t", i + 2).alias("w3"),
        ),
    )
    tris = base.select(F.explode(tri).alias("u")).select("u.w1", "u.w2", "u.w3")
    c3 = tris.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    vocab = docs.select(F.explode(t).alias("w")).agg(F.count_distinct("w").alias("v"))
    wctx = Window.partitionBy("w1", "w2")
    return (
        c3.crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "w3",
            "c3",
            F.round(
                (F.col("c3") + 1.0) / (F.sum("c3").over(wctx) + F.col("v")), 6
            ).alias("p_smoothed"),
        )
        .orderBy(F.desc("c3"), "w1", "w2", "w3")
        .limit(TRIGRAM_TOP_N)
    )


BPE_TOP_PAIRS = 30


@register(
    "text_bpe_pair_stats",
    tags=("text", "tokenizer"),
    oracle=f"""
WITH wc AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_filter({SPLIT_LOWER_SQL}, x -> x <> '')) AS w
        FROM documents)
  GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, len(word)),
                i -> substr(word, CAST(i AS INT), 2))) AS pair, c
  FROM wc WHERE len(word) >= 2
)
SELECT pair, CAST(sum(c) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair ORDER BY pair_count DESC, pair LIMIT {BPE_TOP_PAIRS}
""",
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step one: corpus-weighted adjacent
    symbol-pair counts — the statistic whose argmax becomes the first
    merge rule. Computed the way real BPE trainers do: reduce the corpus
    to a word-frequency vocabulary FIRST, then enumerate pairs over the
    (tiny) vocab weighted by frequency, so the pair scan touches
    |vocab| rows instead of 100 TB of text. Subsequent merge iterations
    re-run this on a re-segmented vocab (driver holds only the winning
    pair per round, kmeans-style)."""
    docs = load_table(spark, sf_dir, "documents")
    t = words("text")
    wc = (
        docs.select(F.explode(t).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.length("word") >= 2)
    )
    idx = F.sequence(F.lit(1), F.length("word") - 1)
    pairs = wc.select(
        F.explode(F.transform(idx, lambda i: F.substring("word", i, 2))).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


_RAKE_STOP_RE = r"\b(the|of|and|to|a|in|is|it|was|for)\b"


@register(
    "text_rake_keywords",
    tags=("text",),
    oracle=f"""
WITH norm AS (
  SELECT regexp_replace(regexp_replace(lower(text), '[.,;:!?()\\[\\]{{}}-]', '|', 'g'),
                        '{_RAKE_STOP_RE}', '|', 'g') AS t
  FROM documents WHERE lang = 'en'
), occurrences AS (
  SELECT trim(regexp_replace(p, '\\s+', ' ', 'g')) AS phrase
  FROM norm, LATERAL (SELECT unnest(string_split(t, '|')) AS p) u
), cand AS (
  SELECT phrase FROM occurrences
  WHERE phrase <> '' AND len(string_split(phrase, ' ')) BETWEEN 1 AND 3
), words AS (
  SELECT w, len(string_split(phrase, ' ')) AS plen
  FROM cand, LATERAL (SELECT unnest(string_split(phrase, ' ')) AS w) v
), wscore AS (
  SELECT w, CAST(round(CAST(sum(plen) AS BIGINT) * 1000000.0 / count(*)) AS BIGINT) AS s6
  FROM words GROUP BY w
), dphrase AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ FROM cand GROUP BY phrase
), pscore AS (
  SELECT d.phrase, CAST(sum(s.s6) AS BIGINT) AS score6
  FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dphrase) d
  JOIN wscore s ON s.w = d.w
  GROUP BY d.phrase
)
SELECT p.phrase, d.n_occ, round(p.score6 / 1000000.0, 4) AS rake_score
FROM pscore p JOIN dphrase d ON d.phrase = p.phrase
ORDER BY p.score6 DESC, p.phrase
LIMIT 25
""",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword/punctuation-free word runs; each word scores
    degree/frequency (degree = total length of phrases it appears in);
    a phrase scores the sum of its words — favoring multi-word terms
    that co-occur as units. Top-25 phrases by score.

    Engine-portability: word scores are fixed-pointed to BIGINT
    micro-units BEFORE the per-phrase sum, so no float accumulation
    order can flip the ranking, and the ORDER BY key is the exact
    integer score. All string work is JVM regexp/split/explode; the two
    aggregations shuffle word- and phrase-cardinality frames only —
    at 100 TB this is two vocabulary-sized exchanges over ids, the same
    shape as tf-idf."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    t = F.regexp_replace(
        F.regexp_replace(F.lower("text"), r"[.,;:!?()\[\]{}-]", "|"),
        _RAKE_STOP_RE,
        "|",
    )
    occurrences = docs.select(F.explode(F.split(t, r"\|")).alias("p")).select(
        F.trim(F.regexp_replace("p", WS, " ")).alias("phrase")
    )
    cand = occurrences.filter(
        (F.col("phrase") != "")
        & (F.size(F.split("phrase", " ")).between(1, 3))
    )
    words = cand.select(
        F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    wscore = words.groupBy("w").agg(
        F.round(F.sum("plen").cast("bigint") * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("s6")
    )
    dphrase = cand.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )
    pwords = dphrase.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    pscore = (
        pwords.join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("s6").cast("bigint").alias("score6"))
    )
    return (
        pscore.join(dphrase, "phrase")
        .orderBy(F.col("score6").desc(), "phrase")
        .limit(25)
        .select(
            "phrase",
            "n_occ",
            F.round(F.col("score6") / 1000000.0, 4).alias("rake_score"),
        )
    )


def _compression_ratio_one(s: str) -> float:
    """zlib-compressed size over raw size for one document — low ratios
    mean repetitive/templated text (the Gopher/FineWeb-style quality
    signal); deterministic for a fixed zlib level."""
    import zlib

    if not s:
        return 1.0
    raw = s.encode("utf-8", "ignore")
    return float(round(len(zlib.compress(raw, 6)) / len(raw), 6))


@register(
    "text_compression_ratio",
    tags=("text", "quality"),
    doc="Per-source zlib compression-ratio quality signal (repetitive "
    "text compresses suspiciously well); zlib has no SQL oracle — "
    "rows-only, kernel pinned in tests/test_spark4_surfaces.py.",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality gate: documents whose bytes compress
    below ~0.4 are boilerplate/templated with high probability — the
    cheap information-density filter production corpus cleaning runs
    alongside `text_repetition_ratio` (explicit n-gram form). Arrow
    batch transfer (useArrow=True) keeps the Python kernel off the
    per-row pickle path; at 100 TB this is a narrow scan-speed map —
    compression cost IS the operator."""
    ratio = F.udf(_compression_ratio_one, "double", useArrow=True)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", ratio("text").alias("r"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("r"), 4).alias("avg_ratio"),
            F.round(F.min("r"), 4).alias("min_ratio"),
            F.count_if(F.col("r") < 0.4).cast("bigint").alias("n_suspect"),
        )
    )


@register(
    "text_sentence_stats",
    tags=("text",),
    oracle="""
WITH sent AS (
  SELECT doc_id, trim(s) AS s
  FROM documents,
       LATERAL (SELECT unnest(string_split_regex(text, '[.!?]+')) AS s) u
), clean AS (
  SELECT doc_id,
         len(list_filter(string_split(s, ' '), w -> trim(w) <> '')) AS n_words
  FROM sent WHERE trim(s) <> ''
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       round(avg(n_words), 4) AS avg_sentence_len,
       CAST(max(n_words) AS BIGINT) AS longest_sentence
FROM clean GROUP BY doc_id
""",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats: split on terminal-punctuation runs,
    count words per sentence, report per-doc sentence count / mean /
    max — the readability layer of quality scoring (very long or very
    short mean sentence length flags boilerplate and tables-as-text;
    pairs with `text_quality_score`'s token heuristics). Regex split +
    explode + one doc-keyed agg, all codegen."""
    docs = load_table(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id", F.explode(F.split("text", r"[.!?]+")).alias("s")
    ).select("doc_id", F.trim("s").alias("s"))
    clean = sent.filter(F.col("s") != "").select(
        "doc_id",
        F.size(F.filter(F.split("s", " "), lambda w: F.trim(w) != "")).alias(
            "n_words"
        ),
    )
    return clean.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.round(F.avg("n_words"), 4).alias("avg_sentence_len"),
        F.max("n_words").cast("bigint").alias("longest_sentence"),
    )


BPE_TRAIN_ROUNDS = 5


def bpe_train_merges(docs: DataFrame, rounds: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    """Train `rounds` BPE merges over the word-frequency table of a corpus
    (Sennrich et al. 2016): each round counts adjacent symbol pairs
    weighted by word frequency, adopts the most frequent pair (ties:
    lexicographically smallest) as a merge, and rewrites every word's
    symbol sequence left-to-right. Returns (merge_rank, pair, pair_count).

    Iterative-algorithm shape (like PageRank / Lloyd here): the corpus
    reduces to a VOCABULARY-frequency frame once — all rounds iterate on
    that vocabulary-cardinality DataFrame, never re-reading the corpus.
    Per round: one pair-count aggregate (map-side combinable) + a 1-row
    driver pick (the merge decision — bytes, not data) + a vectorized
    left-fold rewrite. At 100 TB vocabulary ~ millions of rows: every
    stage stays distributed; only the chosen pair ever reaches the
    driver."""
    spark = docs.sparkSession
    vocab = (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("word", "").alias("syms"), "freq")
    )
    merges = []
    for rank in range(1, rounds + 1):
        # guard: sequence(1, 0) DESCENDS in Spark, so 1-symbol words need
        # an explicit empty index array
        pair_idx = F.when(
            F.size("syms") > 1, F.sequence(F.lit(1), F.size("syms") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = vocab.select(
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.concat_ws(
                        "␟", F.element_at("syms", i), F.element_at("syms", i + 1)
                    ),
                )
            ).alias("pair"),
            "freq",
        ).groupBy("pair").agg(F.sum("freq").alias("n"))
        top = pairs.orderBy(F.col("n").desc(), "pair").limit(1).collect()
        if not top:
            break
        pair, n = top[0]["pair"], top[0]["n"]
        a, b = pair.split("␟")
        merges.append((rank, f"{a}+{b}", int(n)))
        merged = F.concat(F.lit(a), F.lit(b))
        # left-to-right fold: (acc, x) -> acc[:-1] + [a||b] when the tail
        # is `a` and x is `b`, else acc + [x] — the reference BPE rewrite
        fold = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == a)
                & (x == b),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select(fold.alias("syms"), "freq")
    return spark.createDataFrame(
        merges, "merge_rank int, pair string, pair_count bigint"
    )


@register(
    "text_bpe_train_merges",
    tags=("text", "iterative"),
    doc="Iterative BPE merge training (5 rounds) over the corpus "
    "word-frequency table — genuinely iterative (each round depends on "
    "the last merge), so no SQL oracle; exact parity with a pure-Python "
    "reference BPE is pinned by tests/test_operators_ext.py.",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs)


FH_DIM = 16  # feature-hashing target dimensionality


@register(
    "text_feature_hashing",
    tags=("text", "similarity"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({WORDS_SQL}) AS w
  FROM documents
)
SELECT doc_id,
       CAST({md5_int_sql("'fh:' || w")} % {FH_DIM} AS BIGINT) AS dim,
       CAST(sum(CASE WHEN {md5_int_sql("'fhs:' || w")} % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS weight
FROM toks
GROUP BY doc_id, dim
HAVING sum(CASE WHEN {md5_int_sql("'fhs:' || w")} % 2 = 0
                THEN 1 ELSE -1 END) <> 0
""",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): embed each document
    as a {FH_DIM}-dim signed bag-of-words — token t adds ±1 (sign from
    an independent hash) to dimension md5(t) mod {FH_DIM}. No vocabulary
    pass, no dictionary broadcast, integer arithmetic end to end, which
    is why it is the standard cheap featurizer before clustering /
    near-dup blocking at corpus scale. Long-form output (doc, dim,
    weight), zero rows suppressed, matching a sparse-vector encoding.

    Scale: explode + one hash-agg keyed (doc_id, dim) — map-side
    combine collapses each doc's tokens locally (≤ {FH_DIM} cells per
    doc); the exchange carries one row per nonzero cell. Exact integer
    output ⇒ bit-identical across engines, no float discipline needed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words("text")).alias("w"))
    dim = (md5_int(F.concat(F.lit("fh:"), F.col("w"))) % FH_DIM).cast("bigint")
    sign = F.when(md5_int(F.concat(F.lit("fhs:"), F.col("w"))) % 2 == 0, 1).otherwise(-1)
    return (
        toks.select("doc_id", dim.alias("dim"), sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )


@register(
    "text_vocab_coverage",
    tags=("text", "pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest({SPLIT_LOWER_SQL}) AS w FROM documents
  ) WHERE trim(w) <> ''
),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rn
    FROM toks GROUP BY w
  ) WHERE rn <= 50
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov,
       round(count(*) FILTER (WHERE v.w IS NULL) * 1.0 / count(*), 4) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id
""",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-50 corpus
    vocabulary (freq desc, word asc — deterministic ties) and score
    every document's out-of-vocabulary token count and rate — the
    health check run before committing a tokenizer/vocab to a training
    corpus (rising OOV on new data means the vocab no longer fits the
    distribution; per-source OOV localizes which feed drifted).

    Plan: one token aggregate builds the vocabulary (map-side combine
    to vocabulary cardinality), which broadcasts into a LEFT join over
    the token stream — per-doc counts then collapse by doc_id. At
    100 TB the vocab side stays KB-sized whatever the corpus; the
    token stream is exploded once and shuffles only (doc_id) partial
    counts."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(split_lower("text")).alias("w"),
        )
        .filter(F.trim(F.col("w")) != "")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("w"))  # frame: bounded (vocab-grain)
            ),
        )
        .filter(F.col("rn") <= 50)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count_if(F.col("_in_vocab").isNull()).cast("bigint").alias("n_oov"),
            F.round(
                F.count_if(F.col("_in_vocab").isNull()) * 1.0 / F.count(F.lit(1)), 4
            ).alias("oov_rate"),
        )
    )


@register(
    "text_heaps_law",
    tags=("text", "profiling"),
    oracle=f"""
WITH toks AS (
  SELECT source,
         unnest({WORDS_SQL}) AS w
  FROM documents
), per_tok AS (
  SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2
), per_src AS (
  SELECT source,
         sum(c) AS n_tokens,
         count(*) AS v_types,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax_types
  FROM per_tok GROUP BY source
), fit AS (
  SELECT regr_slope(ln(v_types), ln(n_tokens)) AS beta,
         regr_intercept(ln(v_types), ln(n_tokens)) AS logk
  FROM per_src
)
SELECT p.source,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       CAST(p.v_types AS BIGINT) AS v_types,
       CAST(p.hapax_types AS BIGINT) AS hapax_types,
       round(p.v_types * 1.0 / p.n_tokens, 6) AS ttr,
       round(f.beta, 4) + 0e0 AS heaps_beta,
       round(f.logk, 4) + 0e0 AS heaps_logk
FROM per_src p CROSS JOIN fit f
""",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary audit: per source, token mass vs distinct
    vocabulary vs hapax legomena (once-only types), with the corpus-wide
    Heaps fit V = K·n^β estimated by OLS on the 20 (ln n, ln V) source
    points (Heaps '78; β≈0.5 for natural text — a source whose point
    sits far off the fitted line is synthetic/templated/cross-pasted).
    One explode → (source, token) count agg → source rollup: the
    shuffle carries per-source token vocabularies (the same ids-style
    shape as `text_vocab_coverage`), and the regression runs over
    source-cardinality rows — 20 here, maybe thousands at 100 TB, never
    data-sized. The β/K fit is a broadcastable 1-row frame joined back
    onto every source row. Float discipline: regression over ln of
    exact integers, rounded at 4dp (the `agg_regression_funcs` posture)
    then ``+ 0.0`` to normalize sign-of-zero — a near-zero slope can
    round to -0.0, which DuckDB keeps but Spark's decimal round drops,
    and the driver canonicalizer renders "-0.0" != "0.0" (caught by the
    round-6 sf0.1 second-scale gate); per-source columns are exact
    integers + one exact division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(words("text")).alias("w"))
    per_tok = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    per_src = per_tok.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("v_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax_types"),
    )
    fit = per_src.agg(
        F.regr_slope(F.log("v_types"), F.log("n_tokens")).alias("beta"),
        F.regr_intercept(F.log("v_types"), F.log("n_tokens")).alias("logk"),
    )
    return per_src.crossJoin(F.broadcast(fit)).select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("v_types").cast("bigint").alias("v_types"),
        F.col("hapax_types").cast("bigint").alias("hapax_types"),
        F.round(F.col("v_types") * 1.0 / F.col("n_tokens"), 6).alias("ttr"),
        (F.round("beta", 4) + 0.0).alias("heaps_beta"),
        (F.round("logk", 4) + 0.0).alias("heaps_logk"),
    )


KWIC_TERM = "spark"
KWIC_CTX = 2  # tokens of context each side


@register(
    "text_concordance_kwic",
    tags=("text", "search"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {WORDS_SQL} AS t
  FROM documents
), hits AS (
  SELECT doc_id, t, unnest(list_filter(range(1, len(t) + 1), i -> t[i] = '{KWIC_TERM}')) AS p
  FROM toks
)
SELECT doc_id,
       CAST(p AS BIGINT) AS pos,
       coalesce(array_to_string(t[greatest(1, p - {KWIC_CTX}):p - 1], ' '), '') AS left_ctx,
       coalesce(array_to_string(t[p + 1:least(len(t), p + {KWIC_CTX})], ' '), '') AS right_ctx
FROM hits
""",
)
def text_concordance_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of the query
    term with ±{KWIC_CTX} tokens of context — the corpus-inspection
    view (search snippets, lexicography, eval-time contamination
    eyeballing) built on the same positions the inverted index stores
    (`text_inverted_index` answers WHICH docs; KWIC shows HOW the term
    is used). One filtered posexplode over positions + two array
    slices; `slice(t, start, len)` with len=0 handles the
    document-edge windows that an unguarded `sequence(lo, hi)` would
    corrupt (Spark sequences run DESCENDING when lo > hi). Scan-local
    at any corpus size; output is hit-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", words("text").alias("t"))
    hits = base.select(
        "doc_id",
        "t",
        F.explode(
            F.filter(
                F.sequence(F.lit(1), F.size("t")),
                lambda i: F.element_at("t", i) == KWIC_TERM,
            )
        ).alias("p"),
    )
    g = F.greatest(F.lit(1), F.col("p") - KWIC_CTX)
    left = F.slice(F.col("t"), g, F.col("p") - g)
    right = F.slice(
        F.col("t"),
        F.col("p") + 1,
        F.least(F.size("t"), F.col("p") + KWIC_CTX) - F.col("p"),
    )
    return hits.select(
        "doc_id",
        F.col("p").cast("bigint").alias("pos"),
        F.array_join(left, " ").alias("left_ctx"),
        F.array_join(right, " ").alias("right_ctx"),
    )


PMI_MIN_COUNT = 5  # collocation support floor


@register(
    "text_pmi_collocations",
    tags=("text",),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {WORDS_SQL} AS t
  FROM documents
), uni AS (
  SELECT unnest(t) AS w FROM toks
), ucnt AS (
  SELECT w, count(*) AS c FROM uni GROUP BY w
), utot AS (SELECT sum(c) AS n FROM ucnt),
bi AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
), bcnt AS (
  SELECT bg, count(*) AS c FROM bi GROUP BY bg
), btot AS (SELECT sum(c) AS n FROM bcnt)
SELECT b.bg AS bigram,
       CAST(b.c AS BIGINT) AS n_bigram,
       CAST(u1.c AS BIGINT) AS n_left,
       CAST(u2.c AS BIGINT) AS n_right,
       round(ln((b.c * 1.0 / bt.n) / ((u1.c * 1.0 / ut.n) * (u2.c * 1.0 / ut.n))), 4) + 0.0 AS pmi
FROM bcnt b
JOIN ucnt u1 ON u1.w = string_split(b.bg, ' ')[1]
JOIN ucnt u2 ON u2.w = string_split(b.bg, ' ')[2]
CROSS JOIN btot bt CROSS JOIN utot ut
WHERE b.c >= {PMI_MIN_COUNT}
""",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church &
    Hanks '90): bigrams whose joint probability beats the independence
    product — the classic phrase detector (word2vec's phrase pass and
    tokenizer-merge candidates both start here; RAKE ranks within-doc,
    PMI ranks corpus-wide). Two count aggregates (unigrams, bigrams)
    joined on the bigram's parts with the 1-row totals broadcast; the
    support floor ({PMI_MIN_COUNT}) kills the noisy hapax pairs BEFORE
    the join, which is also the scale lever — the joined set is
    frequent-bigram-sized, not corpus-sized. PMI itself is exact
    integer ratios through one ln, rounded 4dp."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(words("text").alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    utot = ucnt.agg(F.sum("c").alias("un"))
    bi = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i), F.element_at("t", i + 1)
                ),
            )
        ).alias("bg")
    )
    bcnt = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= PMI_MIN_COUNT
    )
    btot = bi.agg(F.count(F.lit(1)).alias("bn"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    parts = F.split(F.col("bg"), " ")
    joined = (
        bcnt.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(utot))
    )
    pmi = F.log(
        (F.col("c") * 1.0 / F.col("bn"))
        / ((F.col("c1") * 1.0 / F.col("un")) * (F.col("c2") * 1.0 / F.col("un")))
    )
    return joined.select(
        F.col("bg").alias("bigram"),
        F.col("c").cast("bigint").alias("n_bigram"),
        F.col("c1").cast("bigint").alias("n_left"),
        F.col("c2").cast("bigint").alias("n_right"),
        # + 0.0 normalizes IEEE negative zero: round() can land on
        # -0.0 on one engine and 0.0 on the other (-0.0 + 0.0 == +0.0)
        (F.round(pmi, 4) + 0.0).alias("pmi"),
    )


@register(
    "text_self_bleu_diversity",
    tags=("text", "pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {SPLIT_LOWER_SQL} AS t
  FROM documents
), big AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks
), df AS (
  SELECT source, bg, count(*) AS n_docs_with FROM big GROUP BY 1, 2
), per_doc AS (
  SELECT b.doc_id, b.source,
         count(*) AS n_bigrams,
         sum(CASE WHEN d.n_docs_with >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM big b JOIN df d ON b.source = d.source AND b.bg = d.bg
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_distinct_bigrams,
       round(avg(n_shared * 1.0 / n_bigrams), 6) AS avg_self_bleu2
FROM per_doc
GROUP BY source
""",
)
def text_self_bleu_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU (bigram) per source: for each document, the fraction
    of its DISTINCT bigrams that also occur in at least one OTHER
    document of the same source, averaged per source — the standard
    corpus-diversity probe (Zhu et al. '18 Texygen): high self-BLEU =
    template-heavy / low-diversity source, a mixture-weighting input
    right next to [[stats_jensen_shannon]]'s distinctiveness rank.
    Clipped-precision semantics come from distinct-per-doc bigrams
    joined against per-source document frequency (appears-in->=2-docs
    = shared with another doc), so no pairwise doc x doc comparison
    ever materializes — the same frequency-join shape as the LSH
    verify stage, linear in corpus bigrams, shuffle keyed by
    (source, bigram). Per-doc ratios are exact int/int doubles; the
    25-element per-source mean is well-conditioned at 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array BEFORE the transform lambda: HOF
    # lambdas get no common-subexpression elimination, so the previous
    # inline form re-ran split(lower(text)) for EVERY element access —
    # O(len^2) string work per document (the sf1 sweep's slowest query
    # at 36s; ~3x faster with the array hoisted). Same bigrams, output
    # identical.
    big = (
        docs.select(
            "doc_id",
            "source",
            split_lower("text").alias("t"),
        )
        .where(F.size("t") >= 2)  # guard: sequence(1, 0) runs DESCENDING
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                )
            ).alias("bg"),
        )
        .distinct()
    )
    df_ = big.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("n_docs_with"))
    per_doc = (
        big.join(df_, ["source", "bg"])
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("n_distinct_bigrams"),
        F.round(F.avg(F.col("n_shared") * 1.0 / F.col("n_bigrams")), 6).alias(
            "avg_self_bleu2"
        ),
    )


@register(
    "text_term_burst",
    tags=("text", "temporal", "analytics"),
    oracle=f"""
WITH tok AS (
  SELECT 1 + doc_id % 28 AS day,
         unnest({SPLIT_LOWER_SQL}) AS term
  FROM documents
), td AS (
  SELECT term, day, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), per_term AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(max(c) AS BIGINT) AS peak,
         CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS ss,
         CAST(sum(c) AS DOUBLE) AS s
  FROM td GROUP BY term
), scored AS (
  SELECT term, n_days, total, peak,
         CASE WHEN n_days > 1
                AND (ss - s * s / n_days) / (n_days - 1) > 0
              THEN (peak - s / n_days)
                   / sqrt((ss - s * s / n_days) / (n_days - 1))
              ELSE 0.0 END AS burst_z
  FROM per_term
  WHERE total >= 50
)
SELECT term, n_days, total, peak,
       round(burst_z, 4) AS burst_z,
       CASE WHEN burst_z > 2.0 THEN 1 ELSE 0 END AS is_burst
FROM scored
""",
)
def text_term_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-burst detection (Kleinberg-lite): peak daily frequency of
    each term scored as a z against that term's own daily-count
    distribution — the trending-topic primitive over a document stream
    (the fixture has no doc dates, so days derive deterministically
    from doc_id % 28, the same synthesis discipline as
    [[pipeline_url_canonical_dedup]]'s URL variants; production uses
    the crawl date). Only terms with >=50 total occurrences are scored
    (burst z on rare terms is noise). Shape: tokenize scan ->
    (term, day) hash agg -> term-level agg with exact HUGEINT/DECIMAL
    count moments -> deterministic 1-projection z; shuffle keyed by
    term, output vocabulary-sized. A streaming twin would keep the
    (term, day) partials in state and re-score on every watermark
    close."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (1 + F.col("doc_id") % 28).alias("day"),
        F.explode(split_lower("text")).alias("term"),
    )
    td = tok.groupBy("term", "day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dec = "decimal(28,0)"
    per_term = td.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("total"),
        F.max("c").cast("bigint").alias("peak"),
        F.sum(F.col("c").cast(dec) * F.col("c")).cast("double").alias("ss"),
        F.sum("c").cast("double").alias("s"),
    )
    n = F.col("n_days")
    var = (F.col("ss") - F.col("s") * F.col("s") / n) / (n - 1)
    burst_z = F.when(
        (n > 1) & (var > 0),
        (F.col("peak") - F.col("s") / n) / F.sqrt(var),
    ).otherwise(0.0)
    return (
        per_term.filter(F.col("total") >= 50)
        .select(
            "term",
            "n_days",
            "total",
            "peak",
            F.round(burst_z, 4).alias("burst_z"),
            F.when(burst_z > 2.0, 1).otherwise(0).alias("is_burst"),
        )
    )


@register(
    "text_suffix_prefix_stitch",
    tags=("text", "dedup", "pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SPLIT_LOWER_SQL} AS t FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n, len(t) // 2 AS h
  FROM toks WHERE len(t) >= 12
), chunks AS (
  SELECT doc_id * 2 AS chunk_id, doc_id, t[1 : h + 5] AS c FROM sized
  UNION ALL
  SELECT doc_id * 2 + 1 AS chunk_id, doc_id, t[h + 1 : n] AS c FROM sized
), ends AS (
  SELECT chunk_id, doc_id,
         array_to_string(c[1:5], ' ') AS prefix5,
         array_to_string(c[len(c) - 4 : len(c)], ' ') AS suffix5,
         CAST(len(c) AS BIGINT) AS n_tokens
  FROM chunks
)
SELECT a.chunk_id AS tail_chunk, b.chunk_id AS head_chunk,
       a.suffix5 AS shared_gram,
       a.n_tokens AS tail_tokens,
       b.n_tokens AS head_tokens,
       CASE WHEN a.doc_id = b.doc_id THEN 1 ELSE 0 END AS same_doc
FROM ends a JOIN ends b
  ON a.suffix5 = b.prefix5 AND a.chunk_id <> b.chunk_id
""",
)
def text_suffix_prefix_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix/prefix stitch detection over an overlapping-chunk corpus:
    every doc (>=12 tokens) is split inline into two chunks sharing a
    5-token overlap — exactly what sliding-window chunkers
    ([[pipeline_chunk_documents]]) and paginated crawls produce — and
    the detector finds chunk pairs where one's last 5-gram equals
    another's first 5-gram, the signature a reassembly pass keys on
    BEFORE training (document-level dedup can't see it: the pieces
    aren't duplicates of anything). One equi-join on the 5-gram key:
    each chunk contributes one suffix key and one prefix key — ids +
    one short string on the shuffle, no pairwise scan. same_doc=0
    survivors are cross-document accidents (boilerplate frames),
    themselves a dedup signal. Every in-doc split is provably
    recovered; the test pins that count."""
    docs = load_table(spark, sf_dir, "documents")
    t = split_lower("text")
    sized = docs.select(
        "doc_id", t.alias("t"), F.size(t).alias("n"),
        F.floor(F.size(t) / 2).cast("int").alias("h"),
    ).filter(F.col("n") >= 12)
    chunk_a = sized.select(
        (F.col("doc_id") * 2).alias("chunk_id"),
        "doc_id",
        F.slice("t", 1, F.col("h") + 5).alias("c"),
    )
    chunk_b = sized.select(
        (F.col("doc_id") * 2 + 1).alias("chunk_id"),
        "doc_id",
        F.slice("t", F.col("h") + 1, F.col("n") - F.col("h")).alias("c"),
    )
    chunks = chunk_a.unionByName(chunk_b)
    ends = chunks.select(
        "chunk_id",
        "doc_id",
        F.array_join(F.slice("c", 1, 5), " ").alias("prefix5"),
        F.array_join(F.slice("c", -5, 5), " ").alias("suffix5"),
        F.size("c").cast("bigint").alias("n_tokens"),
    )
    a, b = ends.alias("a"), ends.alias("b")
    return a.join(
        b,
        (F.col("a.suffix5") == F.col("b.prefix5"))
        & (F.col("a.chunk_id") != F.col("b.chunk_id")),
    ).select(
        F.col("a.chunk_id").alias("tail_chunk"),
        F.col("b.chunk_id").alias("head_chunk"),
        F.col("a.suffix5").alias("shared_gram"),
        F.col("a.n_tokens").alias("tail_tokens"),
        F.col("b.n_tokens").alias("head_tokens"),
        F.when(F.col("a.doc_id") == F.col("b.doc_id"), 1).otherwise(0).alias(
            "same_doc"
        ),
    )


@register(
    "text_code_detect",
    tags=("text", "pipeline"),
    oracle=f"""
WITH feat AS (
  SELECT doc_id, source,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[{{}}()\\[\\];=<>|&]')) AS n_sym,
         len(list_filter({SPLIT_LOWER_SQL},
             w -> w IN ('def','return','import','class','if','else','for',
                        'while','function','var','const','int','void'))) AS n_kw,
         len(list_filter(string_split(text, ' '), w -> trim(w) <> '')) AS n_tok
  FROM documents
), scored AS (
  SELECT doc_id, source, n_tok,
         round(n_sym * 1e2 / greatest(n_chars, 1), 4) AS sym_pct,
         round(n_kw * 1e2 / greatest(n_tok, 1), 4) AS kw_pct,
         CASE WHEN n_sym * 1e2 / greatest(n_chars, 1) > 2e0
                OR n_kw * 1e2 / greatest(n_tok, 1) > 5e0
              THEN 1 ELSE 0 END AS is_code
  FROM feat
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_code) AS BIGINT) AS n_code_docs,
       round(avg(sym_pct), 4) AS avg_sym_pct,
       round(avg(kw_pct), 4) AS avg_kw_pct,
       round(sum(is_code) * 1e0 / count(*), 4) AS code_frac
FROM scored
GROUP BY source
""",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection for corpus routing: symbol density
    (braces/brackets/operators per 100 chars) and programming-keyword
    rate per 100 tokens, thresholded into an is_code flag and rolled
    up per source — the curation gate that decides whether a document
    flows to the code pipeline (different dedup granularity, different
    quality filters) or the prose pipeline; StarCoder/The-Stack-style
    corpus builds run exactly this split first. Pure regexp +
    list_filter codegen in-scan, one source-keyed agg. Oracle literals
    are e-notation (1e2, 5e0) — the [[eval_calibration_brier]] decimal
    -literal hazard applies to any thresholded score."""
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_sym = F.size(F.regexp_extract_all("text", F.lit(r"[{}()\[\];=<>|&]"), 0))
    kws = ["def", "return", "import", "class", "if", "else", "for",
           "while", "function", "var", "const", "int", "void"]
    n_kw = F.size(
        F.filter(split_lower("text"), lambda w: w.isin(kws))
    )
    n_tok = F.size(words("text"))
    sym_pct = F.round(n_sym * 100.0 / F.greatest(n_chars, F.lit(1)), 4)
    kw_pct = F.round(n_kw * 100.0 / F.greatest(n_tok, F.lit(1)), 4)
    is_code = F.when(
        (n_sym * 100.0 / F.greatest(n_chars, F.lit(1)) > 2.0)
        | (n_kw * 100.0 / F.greatest(n_tok, F.lit(1)) > 5.0),
        1,
    ).otherwise(0)
    scored = docs.select(
        "source",
        sym_pct.alias("sym_pct"),
        kw_pct.alias("kw_pct"),
        is_code.alias("is_code"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_code").cast("bigint").alias("n_code_docs"),
        F.round(F.avg("sym_pct"), 4).alias("avg_sym_pct"),
        F.round(F.avg("kw_pct"), 4).alias("avg_kw_pct"),
        F.round(F.sum("is_code") * 1.0 / F.count(F.lit(1)), 4).alias("code_frac"),
    )


@register(
    "text_bigram_perplexity",
    tags=("text", "ml", "eval"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, doc_id % 2 AS split, {SPLIT_LOWER_SQL} AS t
  FROM documents
), train_big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE split = 0
), train_uni AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM train_big GROUP BY w1
), train_cnt AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM train_big GROUP BY w1, w2
), vocab AS (
  SELECT CAST(count(DISTINCT w2) + 1 AS BIGINT) AS v FROM train_big
), test_big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE split = 1
), scored AS (
  SELECT tb.w1, tb.w2,
         (coalesce(tc.c12, 0) + 1e0)
           / (coalesce(tu.c1, 0) + v.v) AS p
  FROM test_big tb
  LEFT JOIN train_cnt tc ON tb.w1 = tc.w1 AND tb.w2 = tc.w2
  LEFT JOIN train_uni tu ON tb.w1 = tu.w1
  CROSS JOIN vocab v
)
SELECT CAST(count(*) AS BIGINT) AS n_test_bigrams,
       round(sum(-ln(p)) / count(*), 6) AS avg_nll,
       round(exp(sum(-ln(p)) / count(*)), 4) AS perplexity
FROM scored
""",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram perplexity with add-one smoothing: train the
    count LM on even doc_ids, score odd doc_ids with
    p(w2|w1) = (c12+1)/(c1+V), report mean NLL and exp(NLL) —
    the intrinsic LM eval (and the quality signal perplexity-based
    corpus filters threshold on: [[text_unigram_surprisal]] is the
    0-gram version, [[text_trigram_lm]] the model itself; this adds
    the held-out split that makes the number honest). Count tables
    shuffle on (w1[,w2]) — ids-plus-token keys; the test side joins
    against them with map-side combine-sized partials. The ln/exp
    chain is identical e-notation arithmetic; the vocabulary +1
    reserves the unseen-history mass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("split"),
        split_lower("text").alias("t"),
    )
    big = toks.select(
        "split",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("split", "bg.w1", "bg.w2")
    train = big.filter(F.col("split") == 0)
    test = big.filter(F.col("split") == 1)
    train_uni = train.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    train_cnt = train.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    v = train.agg((F.countDistinct("w2") + 1).cast("bigint").alias("v"))
    scored = (
        test.join(train_cnt, ["w1", "w2"], "left")
        .join(train_uni, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            (
                (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("p")
        )
    )
    nll = F.sum(-F.log("p")) / F.count(F.lit(1))
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_bigrams"),
        F.round(nll, 6).alias("avg_nll"),
        F.round(F.exp(nll), 4).alias("perplexity"),
    )


@register(
    "text_readability_scores",
    tags=("text", "llm"),
    oracle=f"""
WITH d AS (
  SELECT source,
         list_filter({SPLIT_LOWER_SQL}, w -> trim(w) <> '') AS toks,
         len(regexp_extract_all(lower(text), '[aeiou]+')) AS syll
  FROM documents
), per_doc AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS words,
         CAST(syll AS BIGINT) AS syllables,
         CAST(ceil(len(toks) / 15e0) AS BIGINT) AS sentences,
         CAST(len(list_filter(toks, w -> length(w) >= 7)) AS BIGINT) AS long_words
  FROM d
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(words) AS BIGINT) AS words,
         CAST(sum(syllables) AS BIGINT) AS syllables,
         CAST(sum(sentences) AS BIGINT) AS sentences,
         CAST(sum(long_words) AS BIGINT) AS long_words
  FROM per_doc GROUP BY source
)
SELECT source, n_docs,
       round(words * 1e0 / sentences, 4) AS words_per_sentence,
       round(syllables * 1e0 / words, 4) AS syllables_per_word,
       round(206.835e0 - 1.015e0 * (words * 1e0 / sentences)
             - 84.6e0 * (syllables * 1e0 / words), 4) AS flesch,
       round(words * 1e0 / sentences
             + 100e0 * long_words / words, 4) AS lix
FROM agg
""",
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source readability sheet — Flesch reading ease and LIX from
    word/syllable/sentence counts, the classic corpus-quality prior
    (alongside [[text_quality_score]]'s ratio gates) used to bucket
    training text by difficulty. The corpus has no sentence
    punctuation, so sentences come from a FIXED 15-word segmenter
    (ceil(words/15)) — deterministic and engine-portable, and stated
    here so the score is read as "readability under a fixed segmenter",
    not prose Flesch. Syllables are maximal vowel runs via one
    regexp_extract_all over the whole lowered text (spaces break runs,
    so doc-level == sum of word-level); long words are >=7 chars (LIX's
    definition).

    Scale: everything is computed in-scan per doc (regex + array exprs
    in codegen, no explode), then one hash agg to source cardinality;
    ratios are exact-integer divisions done once per source row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    per_doc = docs.select(
        "source",
        F.size(toks).cast("bigint").alias("words"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiou]+"), 0))
        .cast("bigint")
        .alias("syllables"),
        F.ceil(F.size(toks) / 15.0).cast("bigint").alias("sentences"),
        F.size(F.filter(toks, lambda w: F.length(w) >= 7))
        .cast("bigint")
        .alias("long_words"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("syllables").cast("bigint").alias("syllables"),
        F.sum("sentences").cast("bigint").alias("sentences"),
        F.sum("long_words").cast("bigint").alias("long_words"),
    )
    wps = F.col("words") * 1.0 / F.col("sentences")
    spw = F.col("syllables") * 1.0 / F.col("words")
    return agg.select(
        "source",
        "n_docs",
        F.round(wps, 4).alias("words_per_sentence"),
        F.round(spw, 4).alias("syllables_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch"),
        F.round(wps + 100.0 * F.col("long_words") / F.col("words"), 4).alias("lix"),
    )


@register(
    "text_token_fertility",
    tags=("text", "llm"),
    oracle=f"""
WITH d AS (
  SELECT lang,
         list_filter({SPLIT_LOWER_SQL}, w -> trim(w) <> '') AS toks,
         length(replace(text, ' ', '')) AS chars
  FROM documents
), per_doc AS (
  SELECT lang,
         CAST(len(toks) AS BIGINT) AS words,
         CAST(chars AS BIGINT) AS chars,
         CAST(list_sum(list_transform(toks,
                w -> CAST(ceil(length(w) / 4e0) AS BIGINT))) AS BIGINT)
           AS subtokens
  FROM d
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(words) AS BIGINT) AS words,
       CAST(sum(subtokens) AS BIGINT) AS subtokens,
       round(sum(subtokens) * 1e0 / sum(words), 4) AS fertility,
       round(sum(chars) * 1e0 / sum(subtokens), 4) AS chars_per_token
FROM per_doc GROUP BY lang
""",
)
def text_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — subword tokens emitted per
    whitespace word, THE budget number for multilingual training-mix
    planning (a lang with fertility 2x pays 2x the context budget for
    the same text; chars-per-token is its inverse lens). The segmenter
    is a fixed-stride 4-char subword chunker (ceil(len/4)) — a
    deterministic stand-in for a real BPE vocab (no tokenizer model
    ships in this container), with the honest property that fertility
    then measures word-LENGTH structure per language, which is exactly
    what drives real BPE fertility gaps.

    Scale: pure in-scan array arithmetic (list_transform + list_sum,
    zero explode, zero shuffle beyond the lang-cardinality agg);
    counts are exact BIGINTs so the engines agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    per_doc = docs.select(
        "lang",
        F.size(toks).cast("bigint").alias("words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("chars"),
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("bigint"),
        ).alias("subtokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("subtokens").cast("bigint").alias("subtokens"),
        F.round(F.sum("subtokens") * 1.0 / F.sum("words"), 4).alias("fertility"),
        F.round(F.sum("chars") * 1.0 / F.sum("subtokens"), 4).alias(
            "chars_per_token"
        ),
    )


@register(
    "text_textrank_keywords",
    tags=("text", "graph", "llm", "iterative"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter({SPLIT_LOWER_SQL}, w -> trim(w) <> '') AS t
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c
    FROM (SELECT unnest(t) AS w FROM toks) u
    GROUP BY w
    ORDER BY c DESC, w
    LIMIT 30
  )
), adj AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks) s
), edges0 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS wt
  FROM adj
  WHERE w1 <> w2
    AND w1 IN (SELECT w FROM vocab)
    AND w2 IN (SELECT w FROM vocab)
  GROUP BY w1, w2
), edges AS MATERIALIZED (
  SELECT w1 AS a, w2 AS b, sum(wt) * 1e0 AS wt FROM (
    SELECT w1, w2, wt FROM edges0
    UNION ALL
    SELECT w2 AS w1, w1 AS w2, wt FROM edges0
  ) GROUP BY 1, 2
), deg AS MATERIALIZED (
  SELECT a, sum(wt) AS wdeg FROM edges GROUP BY a
), nn AS MATERIALIZED (
  SELECT count(*) * 1e0 AS n FROM deg
), p0 AS MATERIALIZED (
  SELECT a AS node, 1e0 / (SELECT n FROM nn) AS pr FROM deg
), p1 AS MATERIALIZED (
  SELECT e.b AS node, 0.15e0 / (SELECT n FROM nn)
         + 0.85e0 * sum(p.pr * e.wt / d.wdeg) AS pr
  FROM edges e JOIN p0 p ON e.a = p.node JOIN deg d ON e.a = d.a
  GROUP BY e.b
), p2 AS MATERIALIZED (
  SELECT e.b AS node, 0.15e0 / (SELECT n FROM nn)
         + 0.85e0 * sum(p.pr * e.wt / d.wdeg) AS pr
  FROM edges e JOIN p1 p ON e.a = p.node JOIN deg d ON e.a = d.a
  GROUP BY e.b
), p3 AS MATERIALIZED (
  SELECT e.b AS node, 0.15e0 / (SELECT n FROM nn)
         + 0.85e0 * sum(p.pr * e.wt / d.wdeg) AS pr
  FROM edges e JOIN p2 p ON e.a = p.node JOIN deg d ON e.a = d.a
  GROUP BY e.b
), ranked AS (
  SELECT node AS word, round(pr, 6) AS textrank,
         row_number() OVER (ORDER BY round(pr, 6) DESC, node) AS rnk
  FROM p3
)
SELECT word, textrank, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 15
""",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank (d=0.85, 3 unrolled iterations) over the word
    co-occurrence graph — vertices are the top-30 corpus words
    (df-capped vocabulary, the bounded-graph discipline from
    [[stats_market_basket]]), edges are ADJACENT-token pairs weighted
    by corpus count, symmetrized; top-15 by 6dp-rounded score with
    word tie-break. The graph-centrality complement to
    [[text_rake_keywords]] (RAKE scores by degree/frequency inside
    candidate phrases; TextRank lets importance FLOW — a word gains
    rank by neighboring other ranked words). Oracle unrolls identical
    iterations as MATERIALIZED CTEs (DuckDB would otherwise inline
    each stage twice per reference — the 2^k blowup pinned in round
    5's iterative ops).

    Scale: the adjacency explode is in-scan and collapses to a
    vocab x vocab edge list (<=900 weighted edges whatever the corpus
    size); each iteration is one tiny join-agg. The only data-sized
    exchange is the vocabulary count."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", words("text").alias("t"))
    vocab = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(30)
        .select("w")
    )
    adj = d.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), "
                "i -> struct(t[i] as w1, t[i + 1] as w2))"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    v1 = vocab.select(F.col("w").alias("w1"))
    v2 = vocab.select(F.col("w").alias("w2"))
    edges0 = (
        adj.filter(F.col("w1") != F.col("w2"))
        .join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wt"))
    )
    edges = (
        edges0.select("w1", "w2", "wt")
        .unionByName(
            edges0.select(
                F.col("w2").alias("w1"), F.col("w1").alias("w2"), "wt"
            )
        )
        .groupBy(F.col("w1").alias("a"), F.col("w2").alias("b"))
        .agg((F.sum("wt") * 1.0).alias("wt"))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("a").agg(F.sum("wt").alias("wdeg"))
    nn = deg.agg((F.count(F.lit(1)) * 1.0).alias("n"))
    pr = deg.crossJoin(F.broadcast(nn)).select(
        F.col("a").alias("node"), (1.0 / F.col("n")).alias("pr")
    )
    for _ in range(3):
        pr = (
            edges.join(pr, edges.a == pr.node)
            .join(deg, "a")
            .groupBy(F.col("b").alias("node2"))
            .agg(
                F.sum(F.col("pr") * F.col("wt") / F.col("wdeg")).alias("flow")
            )
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("node2").alias("node"),
                (0.15 / F.col("n") + 0.85 * F.col("flow")).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    from pyspark.sql import Window

    ranked = pr.select(
        F.col("node").alias("word"), F.round("pr", 6).alias("textrank")
    ).withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("textrank").desc(), F.col("word")))  # frame: bounded (vocab-grain)
        .cast("bigint"),
    )
    return ranked.filter(F.col("rnk") <= 15)


@register(
    "eval_rouge_ngram",
    tags=("text", "eval", "ml"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         {WORDS_SQL} AS l
  FROM documents
), grams AS (
  SELECT doc_id, 1 AS n, unnest(l) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS gram
  FROM toks
), counts AS (
  SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt
  FROM grams GROUP BY doc_id, n, gram
), totals AS (
  SELECT doc_id, n, CAST(sum(cnt) AS BIGINT) AS tot
  FROM counts GROUP BY doc_id, n
), pairs AS (
  SELECT doc_id AS cand_id, doc_id - 250 AS ref_id FROM documents
  WHERE doc_id >= 250
), overlap AS (
  SELECT p.cand_id, r.n,
         CAST(sum(least(r.cnt, c.cnt)) AS BIGINT) AS hits
  FROM pairs p
  JOIN counts r ON r.doc_id = p.ref_id
  JOIN counts c ON c.doc_id = p.cand_id AND c.n = r.n AND c.gram = r.gram
  GROUP BY p.cand_id, r.n
), scored AS (
  SELECT p.cand_id, tr.n,
         coalesce(o.hits, 0) * 1e0 / tr.tot AS recall,
         coalesce(o.hits, 0) * 1e0 / tc.tot AS precision
  FROM pairs p
  JOIN totals tr ON tr.doc_id = p.ref_id
  JOIN totals tc ON tc.doc_id = p.cand_id AND tc.n = tr.n
  LEFT JOIN overlap o ON o.cand_id = p.cand_id AND o.n = tr.n
)
SELECT n,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(recall), 6) AS mean_recall,
       round(avg(precision), 6) AS mean_precision,
       round(avg(CASE WHEN recall + precision > 0e0
                      THEN 2e0 * recall * precision / (recall + precision)
                      ELSE 0e0 END), 6) AS mean_f1
FROM scored GROUP BY n
""",
)
def eval_rouge_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 (Lin 2004) with proper CLIPPED multiset matching
    (per-gram hits = min(ref count, cand count) — the detail naive
    set-overlap gets wrong on repeated words) over a deterministic
    candidate/reference pairing (doc i+250 scored against doc i),
    macro-averaged recall/precision/F1 per n — the paired summary-eval
    complement to [[text_self_bleu_diversity]] (corpus-level diversity,
    no references). All hits/totals are exact integers; only the final
    ratios round. Unpaired grams fall out via the LEFT JOIN with a
    0-hit default rather than dropping the pair.

    Scale: gram counts are the standard (doc, n, gram, count) hash agg
    (text itself never joins); the pair join is by doc id, and the
    clipped-overlap join shuffles on the gram key exactly once. At
    100 TB this is two hash-agg passes plus one key join — no
    all-pairs, no DP."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        words("text").alias("l"),
    )
    uni = toks.select("doc_id", F.lit(1).alias("n"), F.explode("l").alias("gram"))
    bi = toks.filter(F.size("l") >= 2).select(
        "doc_id",
        F.lit(2).alias("n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("l", i.cast("int")), F.element_at("l", (i + 1).cast("int"))
                ),
            )
        ).alias("gram"),
    )
    counts = (
        uni.unionByName(bi)
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    totals = counts.groupBy("doc_id", "n").agg(F.sum("cnt").cast("bigint").alias("tot"))
    pairs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= 250)
        .select(F.col("doc_id").alias("cand_id"), (F.col("doc_id") - 250).alias("ref_id"))
    )
    r = counts.select(
        F.col("doc_id").alias("ref_id"), "n", "gram", F.col("cnt").alias("rcnt")
    )
    c = counts.select(
        F.col("doc_id").alias("cand_id"), "n", "gram", F.col("cnt").alias("ccnt")
    )
    overlap = (
        pairs.join(r, "ref_id")
        .join(c, ["cand_id", "n", "gram"])
        .groupBy("cand_id", "n")
        .agg(F.sum(F.least("rcnt", "ccnt")).cast("bigint").alias("hits"))
    )
    tr = totals.select(F.col("doc_id").alias("ref_id"), "n", F.col("tot").alias("rtot"))
    tc = totals.select(F.col("doc_id").alias("cand_id"), "n", F.col("tot").alias("ctot"))
    scored = (
        pairs.join(tr, "ref_id")
        .join(tc, ["cand_id", "n"])
        .join(overlap, ["cand_id", "n"], "left")
        .select(
            "n",
            (F.coalesce("hits", F.lit(0)) * 1.0 / F.col("rtot")).alias("recall"),
            (F.coalesce("hits", F.lit(0)) * 1.0 / F.col("ctot")).alias("precision"),
        )
    )
    f1 = F.when(
        F.col("recall") + F.col("precision") > 0.0,
        2.0 * F.col("recall") * F.col("precision") / (F.col("recall") + F.col("precision")),
    ).otherwise(0.0)
    return scored.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.round(F.avg("precision"), 6).alias("mean_precision"),
        F.round(F.avg(f1), 6).alias("mean_f1"),
    )
