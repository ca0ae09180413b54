"""Array / map / struct scalar-function surface, plus string-distance
functions — the collection-typed half of the scalar library (SURVEY.md
§2.3: absent in the reference; every op here is a JVM-side built-in
inside whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table


@register(
    "scalar_array_funcs",
    tags=("scalar", "array"),
    oracle="""
WITH per_order AS (
  SELECT l_orderkey, list_sort(list(l_partkey)) AS parts,
         list_sort(list(DISTINCT l_returnflag)) AS flags
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(parts)                    AS n_parts,
       parts[1]                      AS first_part,
       parts[-1]                     AS last_part,
       list_contains(flags, 'R')     AS has_return,
       array_to_string(flags, ',')   AS flag_csv,
       array_to_string(list_transform(parts, x -> x % 100), ',') AS part_mod_csv
FROM per_order
WHERE l_orderkey <= 2000
""",
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + interrogation: collect/sort/size/index/
    contains/join/transform — all codegen'd, arrays stay columnar.
    The transformed array is emitted as a CSV string: the driver
    canonicalizer cannot hash ndarray cells (CORRECTNESS_r02 crash)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("parts"),
        F.array_sort(F.collect_set("l_returnflag")).alias("flags"),
    )
    return per_order.filter(F.col("l_orderkey") <= 2000).select(
        "l_orderkey",
        F.size("parts").alias("n_parts"),
        F.element_at("parts", 1).alias("first_part"),
        F.element_at("parts", -1).alias("last_part"),
        F.array_contains("flags", "R").alias("has_return"),
        F.array_join("flags", ",").alias("flag_csv"),
        F.array_join(F.transform("parts", lambda x: x % 100), ",").alias(
            "part_mod_csv"
        ),
    )


@register(
    "scalar_array_higher_order",
    tags=("scalar", "array"),
    oracle=f"""
WITH per_order AS (
  SELECT l_orderkey,
         list_sort(list({to_cents_sql("l_extendedprice")})) AS cents
  FROM lineitem GROUP BY l_orderkey HAVING l_orderkey <= 2000
)
SELECT l_orderkey,
       CAST(list_aggregate(cents, 'sum') AS BIGINT)          AS total_cents,
       len(list_filter(cents, x -> x > 3000000))             AS n_expensive,
       CAST(list_aggregate(list_transform(cents, x -> (x * 110 + 50) // 100),
                           'max') AS BIGINT)                 AS max_with_tax_cents
FROM per_order
""",
)
def scalar_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: aggregate/filter/transform lambdas
    evaluated inside codegen — the JVM path for per-row collection math.
    Money is integer cents end-to-end: the 10% tax is (x*110+50)//100
    (integer round-half-up) because DuckDB's x*1.1 is exact DECIMAL while
    Spark's is double — a half-ulp divergence. The sum is CAST to BIGINT
    in the oracle: DuckDB list_aggregate sum yields HUGEINT, which pandas
    renders float64 and the dtype-sensitive driver hash rejects."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(to_cents("l_extendedprice"))
            ).alias("cents")
        )
        .filter(F.col("l_orderkey") <= 2000)
    )
    return per_order.select(
        "l_orderkey",
        F.aggregate("cents", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
            "total_cents"
        ),
        F.size(F.filter("cents", lambda x: x > 3000000)).alias("n_expensive"),
        F.array_max(
            F.transform("cents", lambda x: ((x * 110 + 50) / 100).cast("bigint"))
        ).alias("max_with_tax_cents"),
    )


@register(
    "scalar_map_funcs",
    tags=("scalar", "map"),
    oracle="""
WITH m AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st, count(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT pri,
       array_to_string(list_transform(list_sort(list({'st': st, 'n': n})),
                       e -> e.st || ':' || e.n), ',') AS status_counts,
       len(list(st)) AS n_statuses
FROM m GROUP BY pri
""",
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map column built with map_from_entries, interrogated with
    map_entries/transform, emitted as a canonical sorted `k:v` string —
    map literals print engine-specifically, so the comparable form is
    the canonical entry list."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_pri = m.groupBy("pri").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("st", "n")))
        ).alias("status_map"),
        F.size(F.collect_list("st")).alias("n_statuses"),
    )
    return per_pri.select(
        "pri",
        F.array_join(
            F.transform(
                F.map_entries("status_map"),
                lambda e: F.concat_ws(":", e["key"], e["value"]),
            ),
            ",",
        ).alias("status_counts"),
        "n_statuses",
    )


@register(
    "string_distance",
    tags=("scalar", "string", "dedup"),
    oracle="""
SELECT a.n_name AS name_a, b.n_name AS name_b,
       levenshtein(a.n_name, b.n_name) AS edit_dist
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
WHERE levenshtein(a.n_name, b.n_name) <= 6
""",
)
def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance candidate pairs (the verify kernel fuzzy-matching
    pipelines run after blocking; bounded dims only — at scale the pair
    space comes from LSH blocking, operators.dedup)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    a = n.select(F.col("n_nationkey").alias("ka"), F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_nationkey").alias("kb"), F.col("n_name").alias("name_b"))
    d = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, F.col("ka") < F.col("kb"))
        .filter(d <= 6)
        .select("name_a", "name_b", d.alias("edit_dist"))
    )


@register(
    "agg_conditional",
    tags=("agg",),
    oracle=f"""
SELECT l_returnflag,
       count(*) FILTER (WHERE l_discount > 0.05)      AS n_discounted,
       bool_and(l_quantity > 0)                       AS all_positive_qty,
       bool_or(l_quantity > 49)                       AS any_big_qty,
       -- exact-cents sum (r10 sf10 stride catch, the round(sum(double))
       -- class): at 100x the filtered sum passes 1e12 where double ULP
       -- exceeds a cent, so engines' summation orders land on different
       -- doubles and round(x, 2) splits; summing integer cents is exact
       sum({to_cents_sql("l_extendedprice")})
           FILTER (WHERE l_tax > 0.04) / 100.0        AS taxed_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregates: count_if, bool_and/bool_or,
    filtered sum — all single-pass with map-side partials. The filtered
    sum runs in exact integer cents (r10 sf10 stride catch; semantic
    change rule-(a), re-rowed): see the oracle comment."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_big_qty"),
        (
            F.sum(
                F.when(
                    F.col("l_tax") > 0.04,
                    to_cents("l_extendedprice"),
                )
            )
            / F.lit(100.0)
        ).alias("taxed_price"),
    )


@register(
    "explode_variants",
    tags=("scalar", "array"),
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         list(l_partkey) FILTER (WHERE l_quantity > 49) AS big_parts
  FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
  WHERE o_orderkey <= 1000
  GROUP BY o_orderkey
)
SELECT o_orderkey,
       unnest(CASE WHEN big_parts IS NULL OR len(big_parts) = 0
                   THEN [NULL] ELSE big_parts END) AS part
FROM t
""",
)
def explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty/NULL arrays survive with NULL —
    the join-preserving flatten (plain explode drops them)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    li = load_table(spark, sf_dir, "lineitem")
    t = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(
            F.collect_list(F.when(F.col("l_quantity") > 49, F.col("l_partkey"))).alias(
                "big_parts"
            )
        )
    )
    return t.select("o_orderkey", F.explode_outer("big_parts").alias("part"))


@register(
    "explode_inline_structs",
    tags=("scalar", "array"),
    oracle="""
WITH t AS (
  SELECT l_orderkey, list({'pk': l_partkey, 'qty': l_quantity}) AS items
  FROM lineitem WHERE l_orderkey <= 500 GROUP BY l_orderkey
), u AS (
  SELECT l_orderkey, unnest(items) AS it FROM t
)
SELECT l_orderkey, it.pk AS pk, it.qty AS qty FROM u
""",
)
def explode_inline_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline(): explode an array<struct> into one row per element with
    struct fields as columns (the UDTF-shaped built-in)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    t = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(F.col("l_partkey").alias("pk"), F.col("l_quantity").alias("qty"))
        ).alias("items")
    )
    return t.select("l_orderkey", F.inline("items"))


@register(
    "scalar_url_funcs",
    tags=("scalar", "string", "text"),
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || lang
         || '?id=' || CAST(doc_id AS VARCHAR) || '&ref=corpus#sec' AS url
  FROM documents WHERE doc_id <= 500
)
SELECT doc_id,
       regexp_extract(url, '^([a-z]+)://', 1)             AS proto,
       regexp_extract(url, '://([^/?#]+)', 1)             AS host,
       regexp_extract(url, '://[^/?#]+([^?#]*)', 1)       AS path,
       regexp_extract(url, '[?&]id=([^&#]*)', 1)          AS id_param,
       CAST(length(url) AS INT)                           AS url_len
FROM urls
""",
)
def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing — the normalization kernel of every web-corpus
    pipeline (host-level dedup, domain mixing, tracking-param
    stripping). URLs are synthesized from document metadata (the
    fixtures carry no URL column), then decomposed with Spark's
    dedicated `parse_url` (JVM, codegen) — protocol, host, path, and a
    single query parameter; the oracle decomposes identically with
    anchored regexes, which is also the portable fallback for engines
    without parse_url. At 100 TB this is a zero-shuffle narrow map."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 500)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("?id="),
        F.col("doc_id").cast("string"),
        F.lit("&ref=corpus#sec"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")).alias("id_param"),
        F.length("url").alias("url_len"),
    )
