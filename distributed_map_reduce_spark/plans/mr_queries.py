"""The reference's five end-to-end MapReduce queries (SURVEY.md §2.2,
§5 item 4-5), run through the real ``exec_mr`` engine on the reference's
own inline fixtures (FIXTURES.md §1-§2), with DuckDB VALUES-based oracles
— golden-bag parity with `/root/reference/test/mr.test.js:100-243` and
`test/all.student.test.js:100-455`.

Plus one data-scale variant (word count over the ``documents`` table)
showing the same engine path on real input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table
from .kv import KVTable
from .mapreduce import exec_mr_df

# Reference NCDC fixture (`/root/reference/test/mr.test.js:115-121`).
NCDC_PAIRS: list[tuple[str, str]] = [
    ("000", "006701199099999 1950 0515070049999999N9 +0000 1+9999"),
    ("106", "004301199099999 1950 0515120049999999N9 +0022 1+9999"),
    ("212", "004301199099999 1950 0515180049999999N9 -0011 1+9999"),
    ("318", "004301265099999 1949 0324120040500001N9 +0111 1+9999"),
    ("424", "004301265099999 1949 0324180040500001N9 +0078 1+9999"),
]

# All-ties variant (`/root/reference/test/all.student.test.js:180-186`).
NCDC_TIES_PAIRS: list[tuple[str, str]] = [
    ("000", "006701199099999 1950 0515070049999999N9 +0011 1+9999"),
    ("106", "004301199099999 1950 0515120049999999N9 +0011 1+9999"),
    ("212", "004301199099999 1950 0515180049999999N9 +0011 1+9999"),
    ("318", "004301265099999 1949 0324120040500001N9 +0011 1+9999"),
    ("424", "004301265099999 1949 0324180040500001N9 +0011 1+9999"),
]

# Duplicate-key ingest (`all.student.test.js:245-251`): key '319' written
# twice — LWW keeps the later record (-0011 for 1949).
NCDC_DUP_PAIRS: list[tuple[str, str]] = [
    ("000", "006701199099999 1950 0515070049999999N9 +0000 1+9999"),
    ("106", "004301199099999 1950 0515120049999999N9 +0022 1+9999"),
    ("319", "004301265099999 1949 0324120040500001N9 +0111 1+9999"),
    ("319", "004301265099999 1949 0324180040500001N9 -0011 1+9999"),
    ("325", "004301265099999 1948 0324180040500001N9 +0045 1+9999"),
]

# Tale-of-two-cities lines (`/root/reference/test/mr.test.js:184-190`).
DLIB_PAIRS: list[tuple[str, str]] = [
    ("b1-l1", "It was the best of times, it was the worst of times,"),
    ("b1-l2", "it was the age of wisdom, it was the age of foolishness,"),
    ("b1-l3", "it was the epoch of belief, it was the epoch of incredulity,"),
    ("b1-l4", "it was the season of Light, it was the season of Darkness,"),
    ("b1-l5", "it was the spring of hope, it was the winter of despair,"),
]


def _values_clause(pairs: list[tuple[str, str]]) -> str:
    rows = ", ".join("('" + k + "', '" + v.replace("'", "''") + "')" for k, v in pairs)
    return f"(VALUES {rows}) AS t(key, value)"


# --- the reference map/reduce closures (Python re-expression of the JS
# closures at test/mr.test.js:101-113 / all.student.test.js:105-113) -----
def ncdc_map(key, value):
    words = value.split()
    return {words[1]: int(words[3])}


def ncdc_reduce_max(key, values):
    return (key, max(values))


def ncdc_reduce_min(key, values):
    return (key, min(values))


def wc_map(key, value):
    # split(/(\s+)/) then drop whitespace tokens (test/mr.test.js:168)
    return [{w: 1} for w in value.split() if w.strip()]


def wc_map_lower(key, value):
    return [{w.lower(): 1} for w in value.split() if w.strip()]


def wc_reduce(key, values):
    return (key, len(values))


def _ncdc_df(spark: SparkSession, pairs: list[tuple[str, str]]) -> DataFrame:
    # 3 partitions ≙ the reference's 3-node cluster (test/mr.test.js:23-25);
    # keeps 5-row fixture jobs from fanning out across all local cores.
    return KVTable.from_pairs(spark, pairs).resolve().select("key", "value").coalesce(3)


@register(
    "mr_ncdc_max_temp",
    tags=("mapreduce", "parity"),
    oracle=f"""
SELECT f[2] AS year, max(CAST(f[4] AS BIGINT)) AS max_temp
FROM (SELECT string_split(value, ' ') AS f FROM {_values_clause(NCDC_PAIRS)})
GROUP BY f[2]
""",
)
def mr_ncdc_max_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference flagship: MAX(temp) per year through the real exec_mr
    engine (golden: {1950: 22, 1949: 111}, test/mr.test.js:123)."""
    return exec_mr_df(
        spark, _ncdc_df(spark, NCDC_PAIRS), ncdc_map, ncdc_reduce_max,
        num_partitions=3, schema="year string, max_temp bigint",
    )


@register(
    "mr_ncdc_min_temp",
    tags=("mapreduce", "parity"),
    oracle=f"""
SELECT f[2] AS year, min(CAST(f[4] AS BIGINT)) AS min_temp
FROM (SELECT string_split(value, ' ') AS f FROM {_values_clause(NCDC_PAIRS)})
GROUP BY f[2]
""",
)
def mr_ncdc_min_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Student variant: MIN(temp) per year (all.student.test.js:100-130)."""
    return exec_mr_df(
        spark, _ncdc_df(spark, NCDC_PAIRS), ncdc_map, ncdc_reduce_min,
        num_partitions=3, schema="year string, min_temp bigint",
    )


@register(
    "mr_ncdc_ties",
    tags=("mapreduce", "parity"),
    oracle=f"""
SELECT f[2] AS year, min(CAST(f[4] AS BIGINT)) AS min_temp
FROM (SELECT string_split(value, ' ') AS f FROM {_values_clause(NCDC_TIES_PAIRS)})
GROUP BY f[2]
""",
)
def mr_ncdc_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Student variant: aggregation when every value ties
    (all.student.test.js:165-195)."""
    return exec_mr_df(
        spark, _ncdc_df(spark, NCDC_TIES_PAIRS), ncdc_map, ncdc_reduce_min,
        num_partitions=3, schema="year string, min_temp bigint",
    )


@register(
    "mr_ncdc_dup_key_lww",
    tags=("mapreduce", "parity", "kv"),
    oracle=f"""
WITH writes AS (
  SELECT key, value, row_number() OVER () AS seq FROM {_values_clause(NCDC_DUP_PAIRS)}
), lww AS (
  SELECT key, value
  FROM (SELECT key, value, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn FROM writes)
  WHERE rn = 1
)
SELECT f[2] AS year, max(CAST(f[4] AS BIGINT)) AS max_temp
FROM (SELECT string_split(value, ' ') AS f FROM lww)
GROUP BY f[2]
""",
)
def mr_ncdc_dup_key_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key ingest: last write wins before the job runs
    (all.student.test.js:230-293; store semantics local/store.js:117-133)."""
    return exec_mr_df(
        spark, _ncdc_df(spark, NCDC_DUP_PAIRS), ncdc_map, ncdc_reduce_max,
        num_partitions=3, schema="year string, max_temp bigint",
    )


@register(
    "mr_wordcount",
    tags=("mapreduce", "parity"),
    oracle=f"""
SELECT w AS word, count(*) AS n
FROM (SELECT unnest(string_split(value, ' ')) AS w FROM {_values_clause(DLIB_PAIRS)})
WHERE trim(w) <> ''
GROUP BY w
""",
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference word count, case-sensitive, punctuation attached
    (test/mr.test.js:160-243)."""
    return exec_mr_df(
        spark, _ncdc_df(spark, DLIB_PAIRS), wc_map, wc_reduce,
        num_partitions=3, schema="word string, n bigint",
    )


@register(
    "mr_wordcount_lower",
    tags=("mapreduce", "parity"),
    oracle=f"""
SELECT w AS word, count(*) AS n
FROM (SELECT lower(unnest(string_split(value, ' '))) AS w FROM {_values_clause(DLIB_PAIRS)})
WHERE trim(w) <> ''
GROUP BY w
""",
)
def mr_wordcount_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Student variant: lower-cased word count (all.student.test.js:379)."""
    return exec_mr_df(
        spark, _ncdc_df(spark, DLIB_PAIRS), wc_map_lower, wc_reduce,
        num_partitions=3, schema="word string, n bigint",
    )


@register(
    "mr_wordcount_documents",
    tags=("mapreduce",),
    oracle="""
SELECT w AS word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
WHERE trim(w) <> ''
GROUP BY w
""",
)
def mr_wordcount_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same engine path at data scale: word count over the documents
    table through exec_mr (the declarative twin lives in operators.text)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return exec_mr_df(
        spark, docs, wc_map, wc_reduce, schema="word string, n bigint",
    )


# Extra-data variant (`/root/reference/test/all.student.test.js:295-373`):
# the dlib corpus plus a sixth line — word counts shift accordingly.
DLIB_EXTRA_PAIRS: list[tuple[str, str]] = DLIB_PAIRS + [("b1-l6", "it was the best")]


@register(
    "mr_wordcount_extra",
    tags=("mapreduce", "parity"),
    oracle=f"""
SELECT w AS word, count(*) AS n
FROM (SELECT unnest(string_split(value, ' ')) AS w FROM {_values_clause(DLIB_EXTRA_PAIRS)})
WHERE trim(w) <> ''
GROUP BY w
""",
)
def mr_wordcount_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Student variant: word count after appending an extra row
    (all.student.test.js:295-373; golden bag has `best: 2`, `was: 11`)."""
    return exec_mr_df(
        spark, _ncdc_df(spark, DLIB_EXTRA_PAIRS), wc_map, wc_reduce,
        num_partitions=3, schema="word string, n bigint",
    )


@register(
    "mr_secondary_sort",
    tags=("mapreduce", "pattern"),
    oracle="""
WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
o AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT user_id,
       max(CASE WHEN rn_a = 1 THEN event_id END) AS first_event_id,
       max(CASE WHEN rn_d = 1 THEN event_id END) AS last_event_id,
       CAST(count(*) AS BIGINT) AS n_events
FROM o GROUP BY user_id
""",
)
def mr_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MapReduce SECONDARY SORT (Hadoop: The Definitive
    Guide ch.9; the reference's shuffle delivers per-key value BAGS with
    no intra-key order, `/root/reference/test/mr.test.js:78-96` compares
    bags) — Spark-native form: `repartition(key)` co-locates each key,
    `sortWithinPartitions(key, ts, id)` makes every key's run
    contiguous AND time-ordered, and an Arrow-batched streaming reducer
    reads each partition in order, carrying state across batch
    boundaries — it never sorts or buffers a key's values itself (the
    whole point of the pattern: ordering rides the shuffle's sort, the
    reducer is O(1) memory per key).

    Output per user: first/last event id by (ts, event_id) and count,
    which the oracle derives with windows — parity proves the
    partition-sorted stream really was ordered.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    arranged = ev.repartition("user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )

    def reduce_stream(batches):
        state: dict[int, list] = {}  # key -> [first, last, n] (keys/partition bounded)
        for pdf in batches:
            for uid, eid in zip(pdf["user_id"], pdf["event_id"]):
                s = state.get(uid)
                if s is None:
                    state[uid] = [eid, eid, 1]
                else:
                    s[1] = eid  # stream is sorted: latest seen = last
                    s[2] += 1
        if state:
            yield pd.DataFrame(
                {
                    "user_id": list(state.keys()),
                    "first_event_id": [s[0] for s in state.values()],
                    "last_event_id": [s[1] for s in state.values()],
                    "n_events": [s[2] for s in state.values()],
                }
            )

    return arranged.mapInPandas(
        reduce_stream,
        schema="user_id bigint, first_event_id bigint, last_event_id bigint, n_events bigint",
    )


@register(
    "mr_reduce_side_join",
    tags=("mapreduce", "pattern", "join"),
    oracle=f"""
SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(coalesce(sum({to_cents_sql("o.o_totalprice")}), 0) AS BIGINT)
           AS total_cents
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
)
def mr_reduce_side_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MapReduce REDUCE-SIDE JOIN, Spark-native: tag the
    dimension and fact rows, UNION them on the join key, and let ONE
    grouped aggregation both join and aggregate — the reducer sees each
    key's dim row and its facts together. Where a join + group-by plan
    shuffles twice (join exchange, then agg exchange), the tagged-union
    form shuffles ONCE, because the aggregation key IS the join key —
    the join-aggregate fusion worth reaching for at 100 TB whenever the
    dim attributes fold into aggregates (here: max() lifts the single
    dim value per key; facts contribute count/sum).

    Mirrors the reference's only join-shaped capability (per-key value
    bags merged in shuffledSave, SURVEY §2.1 D7) as a declarative plan.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(None).cast("bigint").alias("cents"),
    )
    fact = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.lit(None).cast("string").alias("seg"),
        to_cents("o_totalprice").alias("cents"),
    )
    return (
        cust.unionByName(fact)
        .groupBy("custkey")
        .agg(
            F.max("seg").alias("segment"),
            F.count("cents").cast("bigint").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("total_cents"),
        )
    )


def grep_map(key, value):
    """Emit (source, 1) when the document body matches the pattern —
    the Dean & Ghemawat distributed-grep example (MapReduce §2.1,
    'Distributed Grep'), keyed by corpus source instead of file."""
    import re

    source, text = value
    if re.search(r"\bthe\b", text, re.IGNORECASE):
        return [{source: 1}]
    return []


def grep_reduce(key, values):
    return (key, sum(values))


@register(
    "mr_grep_pattern",
    tags=("mapreduce", "parity"),
    oracle="""
SELECT source,
       CAST(count(*) FILTER (regexp_matches(text, '\\bthe\\b', 'i'))
            AS BIGINT) AS n
FROM documents
GROUP BY source
HAVING count(*) FILTER (regexp_matches(text, '\\bthe\\b', 'i')) > 0
""",
)
def mr_grep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep — the canonical MapReduce example the reference
    engine's mr.exec was built to express (map emits matches, reduce
    counts per group; MapReduce paper §2.1). Runs through the same
    exec_mr_df path as the parity suite: the map closure ships via
    cloudpickle, partial sums combine map-side, and the reduced RDD
    comes back typed without touching the driver. Python's re and
    DuckDB's RE2 agree on this pattern class (word-boundary, case
    fold) — verified in the oracle gate.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.struct("source", "text").alias("value")
    )
    return exec_mr_df(
        spark, docs, grep_map, grep_reduce, schema="source string, n bigint",
    )


MATMUL_ORDER_MOD = 997  # row sample of A: every 997th order


@register(
    "mr_matrix_multiply",
    tags=("mr", "parity"),
    oracle=f"""
WITH a AS (
  SELECT l_orderkey AS i, l_partkey AS k, CAST(sum(l_quantity) AS BIGINT) AS v
  FROM lineitem WHERE l_orderkey % {MATMUL_ORDER_MOD} = 0 GROUP BY 1, 2
), b AS (
  SELECT l_partkey AS k, l_suppkey AS j, CAST(count(*) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
)
SELECT a.i, b.j, CAST(sum(a.v * b.w) AS BIGINT) AS c
FROM a JOIN b ON a.k = b.k
GROUP BY a.i, b.j
""",
)
def mr_matrix_multiply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse matrix multiplication — the canonical two-phase MapReduce
    the reference's shuffle machinery textbook-targets (Leskovec MMDS
    §2.3.9) and the one classic pattern the mr_* family still lacked:
    map emits A-cells keyed by k and B-cells keyed by k, the first
    reduce joins them into partial products, the second reduce sums per
    output cell (i,j). In Spark that IS join-on-k + groupBy(i,j) — two
    exchanges, both on ids+ints, with map-side partial aggregation on
    the second. A = order×part quantity (row-sampled every
    {MATMUL_ORDER_MOD}th order to keep C driver-comparable), B =
    part×supplier lineitem counts; C[i,j] = order-supplier affinity
    through shared parts. At 100 TB the standard refinement is
    block-partitioning both operands on k (bucketed tables co-locate
    the join and delete exchange #1 — `bucketed_join_colocated`)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = (
        li.filter(F.col("l_orderkey") % MATMUL_ORDER_MOD == 0)
        .groupBy(F.col("l_orderkey").alias("i"), F.col("l_partkey").alias("k"))
        .agg(F.sum("l_quantity").cast("bigint").alias("v"))
    )
    b = li.groupBy(
        F.col("l_partkey").alias("k"), F.col("l_suppkey").alias("j")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    return (
        a.join(b, "k")
        .groupBy("i", "j")
        .agg(F.sum(F.col("v") * F.col("w")).cast("bigint").alias("c"))
    )
