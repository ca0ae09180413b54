"""Grouped-map and table-function UDF surfaces — the reference's reduce
contract (`reduce(key, values[]) → result`, SURVEY.md §2.2 Q14) in its
two Spark-native generalizations:

- ``applyInPandas``: the whole group arrives as one pandas DataFrame —
  the UDAF surface for logic built-in aggregates can't express
  (here: per-group OLS regression, checked against DuckDB's regr_*).
- Python UDTF (one row in → N rows out, lateral-join shape) — here the
  n-gram generator, checked against a pure-SQL unnest twin.

Scale posture: applyInPandas shuffles whole groups — group cardinality
must be bounded (returnflag groups here; at 100 TB never key a grouped
map by a hot unbounded key without salting first). The UDTF is narrow
(no shuffle at all).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .measures import to_cents_sql
from ..registry import register
from .normalize import WORDS_SQL, words_py
from ..sources import load_table


def _ols_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Least-squares slope/intercept of extendedprice ~ quantity, plain
    closed form (identical to SQL regr_slope/regr_intercept)."""
    x = pdf["l_quantity"].astype("float64")
    y = pdf["l_extendedprice"].astype("float64")
    n = float(len(pdf))
    sx, sy, sxy, sxx = x.sum(), y.sum(), (x * y).sum(), (x * x).sum()
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = sy / n - slope * (sx / n)
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "n": [int(n)],
            "slope": [round(slope, 4)],
            "intercept": [round(intercept, 2)],
        }
    )


@register(
    "udaf_grouped_regression",
    tags=("udf", "agg"),
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept
FROM lineitem
GROUP BY l_returnflag
""",
)
def udaf_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via applyInPandas: per-group OLS fit the built-in agg
    library can't express as one function — Arrow moves each group to
    pandas once; DuckDB's regr_slope/regr_intercept replay the math."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        _ols_group, schema="l_returnflag string, n bigint, slope double, intercept double"
    )


@register(
    "udtf_ngrams",
    tags=("udf", "text"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {WORDS_SQL} AS t
  FROM documents WHERE doc_id <= 50
), grams AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n FROM grams GROUP BY bigram HAVING count(*) >= 3
""",
)
def udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one doc row → N bigram rows) in a lateral join, then
    a plain aggregate. The declarative twin (explode over a transform)
    is what the 100 TB path uses; the UDTF form exists for logic that
    genuinely needs imperative row expansion."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram string")
    class BigramGen:
        def eval(self, text: str):
            toks = words_py(text) or []
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1],)

    spark.udtf.register("bigram_gen", BigramGen)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    docs.createOrReplaceTempView("udtf_docs_in")
    grams = spark.sql(
        "SELECT g.bigram FROM udtf_docs_in, LATERAL bigram_gen(text) AS g"
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
    )


@register(
    "udtf_json_kv",
    tags=("udf", "semistructured"),
    oracle="""
WITH doc AS (
  SELECT '{"k": ' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR)
         || ', "type": "' || event_type || '"}' AS j
  FROM events WHERE event_id <= 2000
), kv AS (
  SELECT u.k AS key,
         CAST(json_extract(doc.j, '$.' || u.k) AS VARCHAR) AS val
  FROM doc, LATERAL (SELECT unnest(json_keys(doc.j)) AS k) u
)
SELECT key, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct_vals
FROM kv GROUP BY key
""",
)
def udtf_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-flattening Python UDTF: one JSON object row → one row per
    (key, value) pair, values re-serialized as JSON text so typed values
    compare exactly against DuckDB's json_keys/json_extract flattening
    (numbers bare, strings quoted). The imperative escape hatch for ragged semi-structured
    blobs whose keys aren't known at plan time — the declarative twin
    for KNOWN keys is `variant_nested_extract`, which stays JVM-side and
    is what the 100 TB hot path should use."""
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, val string")
    class JsonKV:
        def eval(self, j: str):
            try:
                obj = json.loads(j)
            except (TypeError, ValueError):
                return
            if isinstance(obj, dict):
                for k, v in obj.items():
                    yield k, json.dumps(v)

    spark.udtf.register("json_kv", JsonKV)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 2000)
    doc = ev.select(
        F.concat(
            F.lit('{"k": '),
            F.get_json_object("props", "$.k"),
            F.lit(', "type": "'),
            F.col("event_type"),
            F.lit('"}'),
        ).alias("j")
    )
    doc.createOrReplaceTempView("udtf_json_in")
    kv = spark.sql("SELECT g.key, g.val FROM udtf_json_in, LATERAL json_kv(j) AS g")
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("val").cast("bigint").alias("n_distinct_vals"),
    )


@register(
    "udtf_dynamic_schema",
    tags=("udf", "polymorphic"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {WORDS_SQL} AS t
  FROM documents WHERE doc_id <= 100
)
SELECT doc_id,
       t[1] AS word_0,
       t[2] AS word_1,
       t[3] AS word_2,
       CAST(len(t) AS BIGINT) AS n_total
FROM toks WHERE len(t) >= 3
""",
)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF: the output schema is computed at plan
    time by a static `analyze()` from a literal argument (here n=3 →
    columns word_0..word_2) — the Spark-4 mechanism behind
    variable-arity table functions like a configurable unpivot or
    feature expander. The engine calls analyze() once during analysis,
    so downstream operators see ordinary typed columns and pruning /
    codegen work unchanged."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import LongType, StringType, StructType

    class LeadingWords:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"word_{i}", StringType())
            schema = schema.add("n_total", LongType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            toks = words_py(text) or []
            if len(toks) >= n:
                yield (*toks[:n], len(toks))

    spark.udtf.register("leading_words", udtf(LeadingWords))
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    docs.createOrReplaceTempView("udtf_dyn_in")
    return spark.sql(
        "SELECT doc_id, g.* FROM udtf_dyn_in, LATERAL leading_words(text, 3) AS g"
    )


@register(
    "udtf_table_argument",
    tags=("udf", "sql"),
    oracle=f"""
WITH seg AS (
  SELECT c_mktsegment,
         count(*) AS n,
         {to_cents_sql("sum(c_acctbal)")} AS bal_cents,
         CAST(min(c_custkey) AS BIGINT) AS first_key,
         CAST(max(c_custkey) AS BIGINT) AS last_key
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
       round(bal_cents / 100.0, 2) AS total_bal,
       first_key, last_key
FROM seg
""",
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE(...) argument (Spark 4): the function
    consumes a whole relation, re-partitioned by `PARTITION BY
    c_mktsegment ORDER BY c_custkey`, and its terminate() emits one
    summary row per partition — the table-function form of a custom
    aggregate, with the engine (not the UDTF) doing the shuffle and
    the in-partition sort. State is O(1) per partition (count, cent
    sum, first/last key), accumulated streamingly over the Arrow rows
    — the shape that survives a 100 TB partition. Balances accumulate
    as exact integer cents so no float-order question arises; the
    ORDER BY makes first/last deterministic."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "c_mktsegment string, n bigint, total_bal double, "
        "first_key bigint, last_key bigint"
    ))
    class SegmentSummary:
        def __init__(self):
            self.seg = None
            self.n = 0
            self.cents = 0
            self.first = None
            self.last = None

        def eval(self, row):
            self.seg = row["c_mktsegment"]
            self.n += 1
            self.cents += round(row["c_acctbal"] * 100)
            if self.first is None:
                self.first = row["c_custkey"]
            self.last = row["c_custkey"]

        def terminate(self):
            if self.n:
                yield (
                    self.seg,
                    self.n,
                    self.cents / 100.0,
                    self.first,
                    self.last,
                )

    spark.udtf.register("segment_summary", SegmentSummary)
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """SELECT * FROM segment_summary(
             TABLE(SELECT c_mktsegment, c_custkey, c_acctbal FROM customer)
             PARTITION BY c_mktsegment ORDER BY c_custkey)"""
    )
