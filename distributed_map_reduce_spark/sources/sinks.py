"""Sinks: write-then-read-back round trips through Spark's file formats.

The reference's only sink is its KV file store (one file per pair,
`/root/reference/distribution/local/store.js:117-133`); Spark's
planned, partitioned, columnar writes are the scale-out replacement.

Every staged write lands in a dir from `sources.scratch.scratch_dir`,
which lives until the process exits, so a query returns its lazy
read-back frame: the write runs at construction, the read-back when the
frame does, and nothing is checkpointed only to outlive its dir.

Scale posture: writes are partitioned by a low-cardinality column
(partition pruning on read), never coalesced to one file, and the
round-trip query proves schema + value fidelity through the disk
boundary — the property a 100 TB pipeline stage hand-off depends on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_sql
from ..functions.measures import to_cents, to_cents_sql
from ..registry import register
from ..sources import load_table
from .scratch import scratch_dir


def write_partitioned_parquet(df: DataFrame, path: str, partition_by: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


@register(
    "sink_parquet_roundtrip",
    tags=("sink", "source"),
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the filtered fact partitioned by returnflag, read it back,
    aggregate — proves the write/read hand-off preserves values, schema,
    and partition pruning (the read scans only matching directories)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    out = os.path.join(scratch_dir("sink"), "lineitem_staged")
    write_partitioned_parquet(
        li.select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"),
        out,
        ["l_returnflag"],
    )
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@register(
    "source_json_roundtrip",
    tags=("sink", "source"),
    oracle="""
SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sink → JSON source: schema inference on read-back, then a
    broadcast join — the interchange-format path (logs, API dumps)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = os.path.join(scratch_dir("json"), "customer_staged")
    c.write.mode("overwrite").json(out)
    back = spark.read.json(out)
    return (
        back.join(F.broadcast(n), back.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "source_csv_roundtrip",
    tags=("sink", "source"),
    oracle="""
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV source with explicit schema on read-back (never
    infer in production — one malformed row flips column types)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = os.path.join(scratch_dir("csv"), "nation_staged")
    n.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.option("header", "true").schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).csv(out)
    return (
        back.join(F.broadcast(r), back.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "sink_partition_prune",
    tags=("sink", "source", "prune"),
    oracle="""
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang = 'en'
GROUP BY source
""",
)
def sink_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning through a staged write: documents land
    partitioned by lang, the read-back filters lang='en' — the scan's
    PartitionFilters prune every other directory before a byte is read
    (tests/test_plans.py pins this). At 100 TB this is the difference
    between scanning one language's slice and the whole corpus."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = os.path.join(scratch_dir("prune"), "docs_staged")
    write_partitioned_parquet(docs, out, ["lang"])
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "source_orc_roundtrip",
    tags=("sink", "source"),
    oracle="""
SELECT s_nationkey, count(*) AS n_supp, round(sum(s_acctbal), 2) AS total_bal
FROM supplier
GROUP BY s_nationkey
""",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC source: the second columnar interchange format
    (predicate pushdown + column pruning work the same as parquet)."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
    out = os.path.join(scratch_dir("orc"), "supplier_staged")
    s.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


@register(
    "source_schema_evolution",
    tags=("sink", "source", "schema"),
    oracle="""
SELECT (c_custkey >= 750) AS has_name_col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN c_custkey >= 750 THEN c_name END) AS BIGINT) AS n_names,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
GROUP BY 1
""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file batches: an early batch written
    WITHOUT c_name (keys < 750) and a later batch WITH it land in one
    directory; `mergeSchema` unifies them on read — old rows surface
    NULL names. The lake reality at 100 TB: columns appear over time,
    and the reader, not a rewrite, reconciles them."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    out = os.path.join(scratch_dir("evo"), "customers_staged")
    c.filter(F.col("c_custkey") < 750).drop("c_name").write.mode("overwrite").parquet(out)
    c.filter(F.col("c_custkey") >= 750).write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy((F.col("c_custkey") >= 750).alias("has_name_col")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_name").alias("n_names"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "source_text_roundtrip",
    tags=("sink", "source"),
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS total_chars,
       CAST(sum({md5_int_sql("text", 6)}) AS BIGINT)
           AS content_checksum
""" + "FROM documents",
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink/source: write every document as one
    `doc_id\\ttext` line via the text writer, read it back with the text
    source, re-parse, and prove content fidelity with an md5-prefix
    checksum — the plain-text corpus interchange format (one doc per
    line) that tokenizer and dataloader tooling consumes.

    Scale shape: text write/read is splittable and partition-parallel
    like any columnar source; the checksum aggregate reduces everything
    to one row, so the round-trip proof itself moves no data."""
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias("value")
    )
    out = os.path.join(scratch_dir("text"), "docs_text")
    lines.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parts = F.split("value", "\t", 2)
    parsed = back.select(parts.getItem(1).alias("text"))
    return parsed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(md5_int("text", 6)).alias("content_checksum"),
    )


# every term fully parenthesized: << vs | precedence differs across engines
_MORTON16 = """
  CAST((
    (((xq >> 0) & 1) << 0) | (((yq >> 0) & 1) << 1) |
    (((xq >> 1) & 1) << 2) | (((yq >> 1) & 1) << 3) |
    (((xq >> 2) & 1) << 4) | (((yq >> 2) & 1) << 5) |
    (((xq >> 3) & 1) << 6) | (((yq >> 3) & 1) << 7)
  ) AS BIGINT)
"""


@register(
    "layout_zorder_tiles",
    tags=("sink", "layout"),
    oracle=f"""
WITH q AS (
  SELECT o_orderkey,
         CAST(o_custkey % 16 AS BIGINT) AS xq,
         CAST(dayofyear(o_orderdate) % 16 AS BIGINT) AS yq,
         o_totalprice
  FROM orders
), coded AS (
  SELECT o_orderkey, xq, yq, {_MORTON16} AS tile, o_totalprice FROM q
)
SELECT tile,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(xq) AS BIGINT) AS x_min, CAST(max(xq) AS BIGINT) AS x_max,
       CAST(min(yq) AS BIGINT) AS y_min, CAST(max(yq) AS BIGINT) AS y_max,
       round(sum(o_totalprice), 2) AS total
FROM coded
GROUP BY tile
""",
)
def layout_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering codes: interleave the bits of two
    quantized dimensions (customer bucket × day-of-year bucket) into one
    tile key. Sorting/range-partitioning a 100 TB table by this code
    before writing gives every file a TIGHT min/max envelope on BOTH
    dimensions at once, so two-dimensional predicates prune files that
    one-dimensional partitioning cannot — the Delta/Iceberg OPTIMIZE
    ZORDER layout, reproduced with nothing but bit arithmetic that both
    engines evaluate identically. The per-tile envelope stats emitted
    here are exactly the file-skipping metadata a reader consults.

    Write path: `df.repartitionByRange(N, "tile").sortWithinPartitions
    ("tile").write...` — same code at any scale."""
    o = load_table(spark, sf_dir, "orders")
    q = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 16).cast("bigint").alias("xq"),
        (F.dayofyear("o_orderdate") % 16).cast("bigint").alias("yq"),
        "o_totalprice",
    )
    coded = q.withColumn("tile", F.expr(_MORTON16))
    return coded.groupBy("tile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("xq").cast("bigint").alias("x_min"),
        F.max("xq").cast("bigint").alias("x_max"),
        F.min("yq").cast("bigint").alias("y_min"),
        F.max("yq").cast("bigint").alias("y_max"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "source_permissive_corrupt",
    tags=("source", "resilience"),
    oracle="""
SELECT source,
       CAST(count(*) FILTER (WHERE doc_id % 11 <> 0) AS BIGINT) AS n_good,
       CAST(count(*) FILTER (WHERE doc_id % 11 = 0) AS BIGINT) AS n_corrupt,
       CAST(sum(n_chars) FILTER (WHERE doc_id % 11 <> 0) AS BIGINT) AS good_chars
FROM documents
GROUP BY source
""",
)
def source_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON ingestion over a landing dir where every 11th
    record is truncated garbage (simulating writer crashes in raw logs):
    the reader parses what it can and routes unparseable lines to the
    `_corrupt_record` column instead of failing the job, so per-source
    good/corrupt accounting falls out of one scan. Same fail-soft
    contract as `variant_tolerant_ingest`, but at the FILE-FORMAT layer
    — where a 100 TB raw-log read actually meets bad bytes (the third
    mode, FAILFAST, is for curated zones; DROPMALFORMED silently loses
    the accounting)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    line = F.when(
        F.col("doc_id") % 11 == 0,
        # truncated mid-string (unterminated JSON): unparseable, but the
        # source tag is still greppable from the raw line
        F.concat(
            F.lit('{"doc_id": '),
            F.col("doc_id").cast("string"),
            F.lit(', "source": "'),
            F.col("source"),
        ),
    ).otherwise(F.to_json(F.struct("doc_id", "source", "n_chars")))
    out = os.path.join(scratch_dir("corrupt"), "landing")
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "doc_id long, source string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        # Spark refuses plans that project ONLY the internal corrupt
        # column from a raw scan; materializing severs that lineage
        .localCheckpoint(eager=True)
    )
    good = back.filter(F.col("_corrupt_record").isNull()).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_good"),
        F.sum("n_chars").cast("bigint").alias("good_chars"),
    )
    # corrupt rows lose their parsed columns; recover the source tag
    # from the raw line to keep per-source accounting
    bad = (
        back.filter(F.col("_corrupt_record").isNotNull())
        .select(
            F.regexp_extract(
                "_corrupt_record", r'"source": "([a-z0-9_]+)', 1
            ).alias("source")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_corrupt"))
    )
    return good.join(bad, "source", "full_outer").select(
        "source",
        F.coalesce("n_good", F.lit(0)).alias("n_good"),
        F.coalesce("n_corrupt", F.lit(0)).alias("n_corrupt"),
        F.coalesce("good_chars", F.lit(0)).alias("good_chars"),
    )


@register(
    "source_xml_roundtrip",
    tags=("sink", "source"),
    oracle=f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({to_cents_sql("o_totalprice")}) AS BIGINT) AS total_cents
FROM orders
WHERE o_orderkey <= 2000
GROUP BY o_orderpriority
""",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → XML source (Spark 4 built-in spark-xml): rowTag-framed
    records with an explicit read-back schema — the document-interchange
    path (feeds, legacy enterprise exports). Money re-aggregates in
    integer cents so the roundtrip is hash-exact."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    out = os.path.join(scratch_dir("xml"), "orders_staged")
    o.write.format("xml").option("rootTag", "orders").option(
        "rowTag", "order"
    ).save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderpriority string, o_totalprice double")
        .load(out)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(to_cents("o_totalprice")).alias("total_cents"),
    )


@register(
    "source_binaryfile_manifest",
    tags=("source", "multimodal"),
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
       md5(text || chr(10)) AS content_md5
FROM documents
WHERE doc_id < 1000
""",
)
def source_binaryfile_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — Spark's entry point for raw asset shards
    (images, audio, model checkpoints): stage every document as its own
    file (a distributed partitionBy text write — no driver loop), then
    read the directory back with format('binaryFile') and emit an
    integrity manifest (asset id from the path, byte length, md5 of the
    raw bytes). The oracle recomputes both from the source table (the
    text sink appends one newline per row, hence the +1).

    Scale posture: binaryFile never decodes — each task maps whole
    files to (path, length, content) rows, so the manifest is one
    embarrassingly-parallel pass; the checksum join back to metadata is
    by doc_id. pathGlobFilter prunes non-data files at listing time,
    before any read.

    The staged fixture is BOUNDED to the first 1000 doc_ids: the write
    side is one-file-per-asset by definition, and staging the whole
    corpus that way is the small-file storm this repo's layout ops
    exist to audit (sf1 measured 647s, nearly all of it file
    creation + listing). A real asset lake already exists on disk —
    the query under test is the binaryFile LISTING + checksum pass,
    whose mechanics a fixed slab exercises at every sf for constant
    cost."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 1000)
    )
    out = os.path.join(scratch_dir("binassets"), "assets")
    # r10 (guide §2.5 input skew): the filtered slab comes out of the
    # parquet scan as ONE partition, so a bare write created all 1000
    # per-asset files from a single task — 34s of serial file creation
    # at sf0.1 (measured; the read+md5 pass is 3s). Hash-repartitioning
    # on doc_id spreads file creation across the cluster; each doc's
    # single row still lands in exactly one file under its doc_id=
    # directory, so the manifest rows are unchanged.
    from ..session import default_parallelism

    docs.repartition(default_parallelism(), "doc_id").write.partitionBy(
        "doc_id"
    ).mode("overwrite").text(out)
    assets = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "true")
        .load(out)
    )
    return assets.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@register(
    "layout_compaction_bins",
    tags=("layout", "maintenance"),
    oracle="""
WITH files AS (
  SELECT source, doc_id, n_chars,
         coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS prefix_bytes
  FROM documents
),
binned AS (
  SELECT source, doc_id, n_chars,
         CAST(floor(prefix_bytes / 12000.0) AS BIGINT) AS bin
  FROM files
)
SELECT source, bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS bin_bytes,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM binned
GROUP BY source, bin
""",
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the lakehouse maintenance pass
    that turns a manifest of tiny files into target-sized rewrite
    groups (Delta OPTIMIZE / Iceberg rewrite_data_files' planning
    stage). Files pack in id order into ~12 KB stripes (sized so sf0.01 already produces multiple bins per source) via
    floor(prefix_bytes / target): a streaming one-pass assignment that
    needs only a prefix sum, not the sequential first-fit recursion —
    each bin overshoots by at most one file, which compaction tolerates
    by design (bins are rewrite batches, not hard quotas).

    Scale shape: one window exchange keyed by the table/partition
    (source), then a hash agg; the plan never materializes file contents
    — it runs over the manifest (at 100 TB the manifest is ~10^6 rows,
    driver-free). The documents table stands in for the manifest with
    n_chars as the size column.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    binned = docs.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / F.lit(12000.0)
        ).cast("bigint"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("bin_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


ZONEMAP_PRICE_CUT = 400000.0  # audit predicate: o_totalprice > cut


@register(
    "layout_zonemap_skipping",
    tags=("layout", "sources"),
    oracle=f"""
WITH filed AS (
  SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT) AS file_id,
         o_totalprice
  FROM orders
), zm AS (
  SELECT file_id, count(*) AS n_rows,
         min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
  FROM filed GROUP BY file_id
)
SELECT file_id,
       CAST(n_rows AS BIGINT) AS n_rows,
       round(min_price, 2) AS min_price,
       round(max_price, 2) AS max_price,
       CASE WHEN max_price > {ZONEMAP_PRICE_CUT} THEN 0 ELSE 1 END AS skippable
FROM zm
""",
)
def layout_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping audit: orders cluster
    naturally into monthly files (the partition layout
    `join_dynamic_partition_prune` stages physically); each file's
    min/max price is its zone map, and a `price > {ZONEMAP_PRICE_CUT}`
    probe can SKIP every file whose max falls below the cut — the
    mechanism behind parquet row-group pruning, Delta/Iceberg data
    skipping, and ClickHouse sparse indexes. The audit quantifies
    skip-rate BEFORE paying for a re-layout (compare: a value-clustered
    Z-order of the same rows concentrates qualifying rows in few files
    → higher skip rate; `layout_zorder_tiles` builds that layout). One
    hash agg on file_id; output is file-cardinality."""
    o = load_table(spark, sf_dir, "orders")
    filed = o.select(
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
        .cast("bigint")
        .alias("file_id"),
        "o_totalprice",
    )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.when(F.max("o_totalprice") > ZONEMAP_PRICE_CUT, 0).otherwise(1).alias("skippable"),
    )


@register(
    "source_fixedwidth_parse",
    tags=("source",),
    oracle=f"""
WITH formatted AS (
  SELECT printf('%08d', c_custkey)
         || substr(c_mktsegment || '          ', 1, 10)
         || printf('%012d', {to_cents_sql("c_acctbal")} + 100000000)
           AS line
  FROM customer
), parsed AS (
  SELECT CAST(substr(line, 1, 8) AS BIGINT) AS custkey,
         trim(substr(line, 9, 10)) AS segment,
         CAST(substr(line, 19, 12) AS BIGINT) - 100000000 AS bal_cents
  FROM formatted
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(bal_cents) AS BIGINT) AS total_cents,
       CAST(min(custkey) AS BIGINT) AS min_key,
       CAST(max(custkey) AS BIGINT) AS max_key
FROM parsed
GROUP BY segment
""",
)
def source_fixedwidth_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record ingestion — the mainframe/COBOL interchange
    format the text reader + substring schema handles without any
    custom source: records are formatted inline to the layout
    (8-char zero-padded key, 10-char space-padded segment, 12-char
    offset-encoded balance so negatives stay digit-only), written and
    read back through the splittable text sink, then sliced back into
    typed columns by position. Every parse is substring arithmetic in
    whole-stage codegen — at 100 TB a fixed-width scan costs the same
    as CSV without the quote/escape state machine. The offset encoding
    (+10^8 cents) is the standard dodge for sign-less layouts; the
    oracle replays format AND parse so a one-character layout drift
    fails the hash."""
    cust = load_table(spark, sf_dir, "customer")
    line = F.concat(
        F.lpad(F.col("c_custkey").cast("string"), 8, "0"),
        F.rpad(F.col("c_mktsegment"), 10, " "),
        F.lpad(
            (to_cents("c_acctbal") + 100000000)
            .cast("string"),
            12,
            "0",
        ),
    )
    out = os.path.join(scratch_dir("fw"), "fixed_width")
    cust.select(line.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parsed = back.select(
        F.substring("value", 1, 8).cast("bigint").alias("custkey"),
        F.trim(F.substring("value", 9, 10)).alias("segment"),
        (F.substring("value", 19, 12).cast("bigint") - 100000000).alias(
            "bal_cents"
        ),
    )
    return parsed.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("bal_cents").cast("bigint").alias("total_cents"),
        F.min("custkey").cast("bigint").alias("min_key"),
        F.max("custkey").cast("bigint").alias("max_key"),
    )


@register(
    "source_parquet_footer_stats",
    tags=("source", "layout", "maintenance"),
    oracle="""
SELECT regexp_extract(file_name, '([^/]+)\\.parquet$', 1) AS table_name,
       CAST(row_group_id AS BIGINT) AS row_group,
       CAST(any_value(row_group_num_rows) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_columns,
       CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
       CAST(sum(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes
FROM parquet_metadata('/root/testdata/sf0.01/*.parquet')
GROUP BY 1, 2
""",
)
def source_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer audit: row-group geometry (rows, column-chunk
    count, compressed/uncompressed bytes) for every table file in the
    dataset directory, read from the FOOTERS ONLY — the layout health
    check behind compaction planning ([[layout_compaction_bins]] bins
    by logical size; this reads the physical truth) and scan-cost
    estimation: a 100 TB lake with 4 MB row groups is a seek storm, and
    this query is how you find it without reading data pages.

    Spark-first shape: the file manifest distributes via a DataFrame
    and each task opens only footers through pyarrow inside
    mapInPandas (Arrow-batched; bytes read per file = footer size, KBs)
    — at a million files this is an embarrassingly-parallel metadata
    sweep with no driver loop and no data-page IO. The DuckDB oracle
    reads the same footers via parquet_metadata(); its path literal is
    pinned to the driver's correctness SF (the gate always runs at
    sf0.01 — TESTDATA.md), while the Spark side takes sf_dir.
    """
    files = sorted(
        os.path.join(sf_dir, f) for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    manifest = spark.createDataFrame([(p,) for p in files], "path string").repartition(
        min(len(files), 8)
    )
    schema = (
        "table_name string, row_group bigint, n_rows bigint, n_columns bigint, "
        "compressed_bytes bigint, uncompressed_bytes bigint"
    )

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                tbl = os.path.basename(path)[: -len(".parquet")]
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    comp = sum(
                        rg.column(j).total_compressed_size
                        for j in range(rg.num_columns)
                    )
                    # sum the column-chunk field, NOT rg.total_byte_size:
                    # the row-group total is a separate footer field some
                    # writers (e.g. DuckDB) populate differently, while
                    # per-chunk total_uncompressed_size is what every
                    # metadata reader reports (caught by the r7 gate on
                    # DuckDB-written sf1 fixtures)
                    uncomp = sum(
                        rg.column(j).total_uncompressed_size
                        for j in range(rg.num_columns)
                    )
                    out.append(
                        (tbl, i, rg.num_rows, rg.num_columns, comp, uncomp)
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "table_name",
                    "row_group",
                    "n_rows",
                    "n_columns",
                    "compressed_bytes",
                    "uncompressed_bytes",
                ],
            )

    return manifest.mapInPandas(read_footers, schema)


@register(
    "layout_clustering_depth",
    tags=("layout", "maintenance"),
    oracle="""
WITH filed AS (
  SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT)
           AS file_id,
         CAST(o_custkey AS BIGINT) AS ck,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS dy
  FROM orders
), zm AS (
  SELECT 'o_custkey' AS col, file_id, min(ck) AS lo, max(ck) AS hi FROM filed
  GROUP BY file_id
  UNION ALL
  SELECT 'o_orderdate' AS col, file_id, min(dy) AS lo, max(dy) AS hi FROM filed
  GROUP BY file_id
), ev AS (
  SELECT col, lo AS k, CAST(1 AS BIGINT) AS delta FROM zm
  UNION ALL
  SELECT col, hi AS k, CAST(-1 AS BIGINT) AS delta FROM zm
), sweep AS (
  SELECT col, k, delta,
         sum(delta) OVER (PARTITION BY col
                          ORDER BY k, delta DESC
                          ROWS UNBOUNDED PRECEDING) AS depth
  FROM ev
)
SELECT s.col,
       CAST((SELECT count(*) FROM zm z WHERE z.col = s.col) AS BIGINT)
         AS n_files,
       CAST(max(depth) AS BIGINT) AS max_depth,
       CAST(count(*) FILTER (WHERE delta = 1 AND depth = 1) AS BIGINT)
         AS clean_opens
FROM sweep s
GROUP BY s.col
""",
)
def layout_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit over the monthly file layout's zone maps
    — the metric behind Delta/Iceberg OPTIMIZE decisions: for a probe
    on column X, how many files' [min, max] ranges overlap at the
    worst key point? Depth 1 = perfectly clustered (any point probe
    touches one file); depth = n_files = that column is useless for
    skipping and a re-sort/Z-order pays for itself
    ([[layout_zorder_tiles]] builds it, [[layout_zonemap_skipping]]
    audits one predicate — this audits the whole key axis at once).
    The sweep is the interval-stabbing classic: +1 at each file's min,
    -1 after its max, running sum ordered by (key, opens-first) so
    coincident boundaries count as overlapping — on the FILE-grain
    frame, never the data. The date column (the layout's own
    clustering key) comes out depth ~1-2 with all clean opens; the
    customer column, scrambled across every month, comes out depth =
    n_files — the two rows ARE the before/after argument for
    re-clustering.

    Scale: one map-side-combined agg to (file x 2 columns), a
    2x-file-count event sweep — metadata-sized regardless of table
    size, exactly like reading footers instead of data
    ([[source_parquet_footer_stats]])."""
    o = load_table(spark, sf_dir, "orders")
    filed = o.select(
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
        .cast("bigint")
        .alias("file_id"),
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("dy"),
    )
    zm = (
        filed.groupBy("file_id")
        .agg(F.min("ck").alias("lo"), F.max("ck").alias("hi"))
        .select(F.lit("o_custkey").alias("col"), "file_id", "lo", "hi")
        .unionByName(
            filed.groupBy("file_id")
            .agg(F.min("dy").alias("lo"), F.max("dy").alias("hi"))
            .select(F.lit("o_orderdate").alias("col"), "file_id", "lo", "hi")
        )
    )
    ev = zm.select("col", F.col("lo").alias("k"), F.lit(1).cast("bigint").alias("delta")).unionByName(
        zm.select("col", F.col("hi").alias("k"), F.lit(-1).cast("bigint").alias("delta"))
    )
    w = W.partitionBy("col").orderBy(F.col("k"), F.col("delta").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sweep = ev.withColumn("depth", F.sum("delta").over(w))
    n_files = zm.groupBy("col").agg(F.count(F.lit(1)).cast("bigint").alias("n_files"))
    return (
        sweep.groupBy("col")
        .agg(
            F.max("depth").cast("bigint").alias("max_depth"),
            F.count_if((F.col("delta") == 1) & (F.col("depth") == 1))
            .cast("bigint")
            .alias("clean_opens"),
        )
        .join(n_files, "col")
        .select("col", "n_files", "max_depth", "clean_opens")
    )
