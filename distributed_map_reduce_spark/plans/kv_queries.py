"""KV-store verb queries (SURVEY.md §2.1 D10-D14, §2.2 Q11-Q12) over the
driver's tables, exercising the KVTable layer end-to-end with DuckDB
oracles: LWW upsert, content-addressed keys, point get, key scan,
delete-as-anti-join.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_sql
from ..registry import register
from ..sources import load_table
from .kv import KVTable, canonical_json, content_address, json_field


def _customer_kv(spark: SparkSession, sf_dir: str) -> KVTable:
    c = load_table(spark, sf_dir, "customer")
    return KVTable(
        c.select(
            F.col("c_custkey").cast("string").alias("key"),
            F.col("c_name").alias("value"),
        )
    )


@register(
    "kv_lww_upsert",
    tags=("kv",),
    oracle="""
SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value
FROM (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def kv_lww_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins resolve: each event is a `put` keyed by user;
    the latest write (by ingestion seq = event_id) wins — the reference's
    silent filesystem overwrite (`local/store.js:117-133`) made
    deterministic with a seq column (SURVEY.md §7.5 item 2)."""
    ev = load_table(spark, sf_dir, "events")
    kv = KVTable(
        ev.select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").alias("value"),
            F.col("event_id").alias("seq"),
        )
    )
    return kv.resolve().select("key", "value")


@register(
    "kv_content_addressed",
    tags=("kv",),
    oracle="""
SELECT sha256(to_json(struct_pack(c_custkey := c_custkey, c_name := c_name))) AS key,
       c_name AS value
FROM customer
""",
)
def kv_content_addressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """put(value, null): key = sha256 of the value's canonical JSON
    (`util/id.js:72-78`, `test/all.test.js:833-847`). Integer/string
    fields only so JSON text is canonical across engines."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        content_address(F.col("c_custkey"), F.col("c_name")).alias("key"),
        F.col("c_name").alias("value"),
    )


@register(
    "kv_point_get",
    tags=("kv",),
    oracle="""
SELECT CAST(c_custkey AS VARCHAR) AS key, c_name AS value
FROM customer WHERE c_custkey = 42
""",
)
def kv_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get(key): point read — the key predicate pushes into the scan
    (the reference routes to one node; Catalyst prunes to one file/rowgroup)."""
    return _customer_kv(spark, sf_dir).get("42")


@register(
    "kv_key_scan",
    tags=("kv",),
    oracle="SELECT CAST(c_custkey AS VARCHAR) AS key FROM customer",
)
def kv_key_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get(null): full key scan (`all/store.js:150-164`) — a single-column
    projection, pruned at the parquet reader."""
    return _customer_kv(spark, sf_dir).scan_keys()


@register(
    "kv_prefix_scan",
    tags=("kv",),
    oracle="""
SELECT CAST(c_custkey AS VARCHAR) AS key, c_name AS value
FROM customer
WHERE CAST(c_custkey AS VARCHAR) LIKE '42%'
""",
)
def kv_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix range scan: the keyspace read BETWEEN the reference's two
    verbs — narrower than `get(null)` (`all/store.js:150-164`), wider
    than point `get` — every real KV store's third primitive (LSM /
    B-tree range seek). Columnar form: on a MATERIALIZED store (string
    key column on disk) `startswith` pushes down as StringStartsWith and
    prunes row groups by key-range statistics (tests/test_plans.py
    proves that on a written-out copy); on this fixture the key is
    derived by a cast, so the predicate can't reach the reader — it
    still runs scan-side, before any exchange, filtering ~99% of rows
    in the first stage."""
    return _customer_kv(spark, sf_dir).scan_prefix("42")


@register(
    "kv_del_antijoin",
    tags=("kv",),
    oracle="""
SELECT CAST(c_custkey AS VARCHAR) AS key, c_name AS value
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
""",
)
def kv_del_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """del(keys): distributed delete = broadcast anti-join; every
    customer who placed an URGENT order is deleted (the unrestricted
    key set deletes ALL fixture customers — a zero-row store proves
    nothing)."""
    kv = _customer_kv(spark, sf_dir)
    doomed = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").cast("string").alias("key"))
        .distinct()
    )
    return kv.delete(doomed).resolve().select("key", "value")


# Schema-less value corpus modeled on the reference's serialization tests
# (`/root/reference/test/serialization.test.js:4-156`): scalars, booleans,
# null, nested objects, arrays, Date — minus cycles/functions (out of
# scope, SURVEY.md §2.3). 'user:1' is written twice to exercise LWW; the
# final None-keyed write is content-addressed.
SCHEMALESS_WRITES: list[tuple[str | None, object]] = [
    ("user:1", {"name": "Ada", "stats": {"n": 3, "score": 9.5}, "tags": ["a", "b"], "active": True}),
    ("user:2", {"name": "Bo", "stats": {"n": 1, "score": 4.25}, "tags": [], "active": False}),
    ("user:1", {"name": "Ada Lovelace", "stats": {"n": 4, "score": 10.0}, "tags": ["a"], "active": True}),
    ("cfg", [1, 2, 3, "four", None, True]),
    ("note", "plain string value"),
    ("n", 42),
    ("pi", 3.14159),
    ("nothing", None),
    ("when", {"event": "launch", "at": datetime.datetime(2024, 10, 8, 12, 30, 0)}),
    # nested array / mixed array+object (serialization.test.js:38-51)
    ("arr:nested", [1, 2, 3, 4, 5, [6, 7, 8, 9, 10]]),
    ("arr:mixed", [1, 2, 3, 4, 5, [6, 7, 8, 9, 10], {"a": 1, "b": 2, "c": 3}]),
    # Error objects serialize as tagged name/message (serialization.test.js:53-58)
    ("err:1", {"name": "Error", "message": "Hello, World!"}),
    (None, {"name": "anon", "stats": {"n": 7, "score": 1.5}}),
]


def _schemaless_values_clause() -> str:
    rows = ", ".join(
        "("
        + ("CAST(NULL AS VARCHAR)" if k is None else "'" + k.replace("'", "''") + "'")
        + ", '" + canonical_json(v).replace("'", "''") + "', " + str(i)
        + ")"
        for i, (k, v) in enumerate(SCHEMALESS_WRITES)
    )
    return f"(VALUES {rows}) AS w(key, value, seq)"


@register(
    "kv_schemaless_roundtrip",
    tags=("kv", "parity"),
    oracle=f"""
WITH keyed AS (
  SELECT coalesce(key, sha256(value)) AS key, value, seq
  FROM {_schemaless_values_clause()}
), lww AS (
  SELECT key, value
  FROM (SELECT key, value, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        FROM keyed)
  WHERE rn = 1
)
SELECT key,
       value                                                   AS vjson,
       json_extract_string(value, '$.name')                    AS name,
       CAST(json_extract(value, '$.stats.n') AS BIGINT)        AS n,
       CAST(json_extract(value, '$.stats.score') AS DOUBLE)    AS score,
       CAST(json_extract(value, '$.active') AS BOOLEAN)        AS active,
       CAST(json_array_length(value, '$.tags') AS BIGINT)      AS n_tags,
       CAST(json_extract_string(value, '$.at') AS TIMESTAMP)   AS at_ts
FROM lww
""",
)
def kv_schemaless_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less KV values end-to-end: universal-serializer corpus in,
    canonical-JSON storage, LWW resolve, content addressing for the
    null-keyed write, and typed JSON projections out — covering the
    reference's arbitrary-value store (`serialization.js:441-499`,
    `local/store.js:117-133`) without per-value schemas. Projections are
    `get_json_object` casts (JVM codegen — no Python in the path)."""
    kv = KVTable.from_objects(spark, SCHEMALESS_WRITES)
    v = F.col("value")
    return kv.resolve().select(
        "key",
        v.alias("vjson"),
        json_field(v, "$.name").alias("name"),
        json_field(v, "$.stats.n", "bigint").alias("n"),
        json_field(v, "$.stats.score", "double").alias("score"),
        json_field(v, "$.active", "boolean").alias("active"),
        F.json_array_length(json_field(v, "$.tags")).cast("bigint").alias("n_tags"),
        F.to_timestamp(json_field(v, "$.at")).alias("at_ts"),
    )


# --- selectable placement (id.js:107-148; VERDICT r01 missing #3) --------
from .placement import (  # noqa: E402
    consistent_owner,
    consistent_owner_sql,
    naive_owner,
    naive_owner_sql,
    rendezvous_owner,
    rendezvous_owner_sql,
)

PLACEMENT_NODES = ["node-a", "node-b", "node-c"]


@register(
    "kv_placement_owners",
    tags=("kv", "parity", "placement"),
    oracle=f"""
SELECT CAST(c_custkey AS VARCHAR) AS key,
       {naive_owner_sql("CAST(c_custkey AS VARCHAR)", PLACEMENT_NODES)} AS naive_owner,
       {consistent_owner_sql("CAST(c_custkey AS VARCHAR)", PLACEMENT_NODES)} AS consistent_owner,
       {rendezvous_owner_sql("CAST(c_custkey AS VARCHAR)", PLACEMENT_NODES)} AS rendezvous_owner
FROM customer
""",
)
def kv_placement_owners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every customer key's owner under all three reference placement
    schemes (naive mod / consistent ring / rendezvous HRW, id.js:107-148)
    on a 3-node view. Owners are pure column expressions over portable
    md5 ints — DuckDB replays each assignment exactly; the owner column
    is what `repartition(n, owner)` / `partitionBy(owner)` consumes, so
    placement is a policy choice, not an engine fork."""
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    return c.select(
        key.alias("key"),
        naive_owner(key, PLACEMENT_NODES).alias("naive_owner"),
        consistent_owner(key, PLACEMENT_NODES).alias("consistent_owner"),
        rendezvous_owner(key, PLACEMENT_NODES).alias("rendezvous_owner"),
    )


def change_feed(events: DataFrame) -> DataFrame:
    """The events table as an ordered KV change stream: key = user_id,
    op = delete for an 'error' event else put, value rounded to 4dp,
    seq = event_id (unique, so the latest op per key is unambiguous)."""
    return events.select(
        F.col("user_id").cast("string").alias("key"),
        F.when(F.col("event_type") == "error", "delete").otherwise("put").alias("op"),
        F.round("value", 4).alias("value"),
        F.col("event_id").alias("seq"),
    )


# Final store state after the change feed: shared by the batch apply and
# its micro-batch twin `stream_cdc_apply_changes`.
CDC_APPLY_ORACLE = """
WITH ops AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         round(value, 4) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT key, value FROM ops WHERE rn = 1 AND op <> 'delete'
"""


@register(
    "kv_cdc_tombstone_apply",
    bench=True,
    tags=("kv", "cdc"),
    oracle=CDC_APPLY_ORACLE,
)
def kv_cdc_tombstone_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with tombstones: replay an ordered change stream
    (put/delete per key, seq = event_id) and materialize the final store
    state — keys whose LAST op is a delete are absent, everything else
    carries its last-written value. Extends the LWW resolve
    (`kv_lww_upsert`, reference `local/store.js:117-133` + del
    `local/store.js:135-147`) with the del verb folded into one pass.

    One window per key (single shuffle); the tombstone filter happens
    AFTER rank-1 selection, so a delete correctly shadows every earlier
    put instead of resurrecting the previous value.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    ops = change_feed(ev)
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select("key", "value")
    )


@register(
    "kv_bloom_membership",
    tags=("kv", "sketch"),
    oracle=f"""
WITH members AS (
  SELECT s_suppkey AS k FROM supplier
), positions AS (
  SELECT {md5_int_sql("'bf' || CAST(u.j AS VARCHAR) || '-' || CAST(k AS VARCHAR)", 8)} % 1024 AS pos
  FROM members, (SELECT unnest([0, 1, 2]) AS j) u
), words AS (
  SELECT CAST(pos // 32 AS BIGINT) AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS BIGINT) AS bits
  FROM positions GROUP BY 1
), probes AS (
  SELECT c_custkey AS p FROM customer
), probe_pos AS (
  SELECT p, u.j,
         {md5_int_sql("'bf' || CAST(u.j AS VARCHAR) || '-' || CAST(p AS VARCHAR)", 8)} % 1024 AS pos
  FROM probes, (SELECT unnest([0, 1, 2]) AS j) u
), checked AS (
  SELECT pp.p,
         min(CASE WHEN ((coalesce(w.bits, 0) >> CAST(pp.pos % 32 AS INTEGER)) & 1) = 1
                  THEN 1 ELSE 0 END) AS hit
  FROM probe_pos pp LEFT JOIN words w ON w.word = pp.pos // 32
  GROUP BY pp.p
), truth AS (
  SELECT c.p, CASE WHEN m.k IS NULL THEN 0 ELSE 1 END AS is_member
  FROM checked c LEFT JOIN members m ON m.k = c.p
)
SELECT CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(c.hit) AS BIGINT) AS n_flagged,
       CAST(sum(t.is_member) AS BIGINT) AS n_true_members,
       CAST(sum(CASE WHEN c.hit = 1 AND t.is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positives,
       CAST(sum(CASE WHEN c.hit = 0 AND t.is_member = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negatives
FROM checked c JOIN truth t ON t.p = c.p
""",
)
def kv_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership, engine-portable end to end: the supplier
    keyset builds a 1024-bit filter (k=3 md5-derived hash positions,
    32-bit words OR-folded with bit_or), every customer key probes it,
    and the summary counts flagged / true / false-positive /
    false-negative (MUST be 0 — Blooms never miss members; the oracle
    hash-match proves it). This is the keyset-prefilter a 100 TB join
    ships to the probe side instead of the keys themselves — 1024 bits
    stand in for the whole dim keyset, and the same construction is
    what `spark.sql.optimizer.runtime.bloomFilter` injects
    automatically for selective joins. Deterministic md5 positions make
    the filter bit-identical on any engine, rerun, or cluster size —
    unlike engine-private bloom_filter_agg sketches."""
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("p")
    )
    js = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j")

    def pos(key_col):
        h = F.concat(F.lit("bf"), F.col("j").cast("string"), F.lit("-"), key_col.cast("string"))
        return md5_int(h, 8) % 1024

    positions = sup.select("k", js).select(pos(F.col("k")).alias("pos"))
    words = positions.groupBy((F.col("pos") / 32).cast("bigint").alias("word")).agg(
        F.bit_or(F.expr("cast(shiftleft(1, cast(pos % 32 as int)) as bigint)")).alias(
            "bits"
        )
    )
    probe_pos = cust.select("p", js).select("p", pos(F.col("p")).alias("pos"))
    checked = (
        probe_pos.join(
            F.broadcast(words),
            (F.col("pos") / 32).cast("bigint") == F.col("word"),
            "left",
        )
        .select(
            "p",
            F.when(
                F.expr(
                    "((coalesce(bits, 0) >> cast(pos % 32 as int)) & 1) = 1"
                ),
                1,
            )
            .otherwise(0)
            .alias("bit_set"),
        )
        .groupBy("p")
        .agg(F.min("bit_set").alias("hit"))
    )
    truth = checked.join(sup, checked.p == sup.k, "left").select(
        "p", "hit", F.when(F.col("k").isNull(), 0).otherwise(1).alias("is_member")
    )
    return truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("hit").cast("bigint").alias("n_flagged"),
        F.sum("is_member").cast("bigint").alias("n_true_members"),
        F.sum(
            F.when((F.col("hit") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_positives"),
        F.sum(
            F.when((F.col("hit") == 0) & (F.col("is_member") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_negatives"),
    )


@register(
    "kv_secondary_index",
    tags=("kv",),
    oracle="""
WITH live AS (
  SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value
  FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events
  )
  WHERE rn = 1
)
SELECT value,
       CAST(count(*) AS BIGINT) AS n_keys,
       min(key) AS min_key,
       array_to_string(list_sort(list(key)), ',') AS keys_csv
FROM live
GROUP BY value
""",
)
def kv_secondary_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary index over the LWW-resolved store: value → sorted key
    list (plus cardinality), derived from the SAME resolve pass as
    `kv_lww_upsert` so index and primary can never disagree — the
    look-up-by-value capability the reference's key-only store lacks
    (`local/store.js` can only `get(key)`; SURVEY §2.1 D10-D13).

    Scale: the index build is one exchange on `value` after the keyed
    resolve; at 100 TB the posting lists are stored bucketed by value
    (sources/bucketing.py), so index probes are partition-pruned scans.
    The CSV posting list is bounded here (≤150 users per value); wide
    postings stay exploded as (value, key) rows."""
    ev = load_table(spark, sf_dir, "events")
    kv = KVTable(
        ev.select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").alias("value"),
            F.col("event_id").alias("seq"),
        )
    )
    live = kv.resolve().select("key", "value")
    return live.groupBy("value").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("key").alias("min_key"),
        F.array_join(F.array_sort(F.collect_list("key")), ",").alias("keys_csv"),
    )


TTL_DAYS = 7


@register(
    "kv_ttl_expiry",
    tags=("kv",),
    oracle=f"""
WITH kv AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
), live AS (
  SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value, ts FROM kv WHERE rn = 1
), hw AS (SELECT max(ts) AS gmax FROM events)
SELECT l.key, l.value,
       CAST(epoch_us(h.gmax) - epoch_us(l.ts) AS BIGINT) AS age_us,
       CASE WHEN epoch_us(h.gmax) - epoch_us(l.ts) > {TTL_DAYS} * 86400000000 THEN 1 ELSE 0 END AS expired
FROM live l CROSS JOIN hw h
""",
)
def kv_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL sweep over the LWW store: every key's age against the
    ingestion high-water mark, with keys idle past {TTL_DAYS} days
    marked expired — the compaction-time garbage collection every KV
    store with TTL runs (Redis EXPIRE / RocksDB TTL compaction filter;
    the reference's store keeps values forever, `local/store.js` —
    this is the retention verb it lacks). The LWW resolve IS the
    existing `kv_lww_upsert` window; TTL adds one broadcast of the
    1-row high-water mark and an integer-µs age projection — an
    expiring store costs nothing extra at 100 TB until the delete."""
    ev = load_table(spark, sf_dir, "events")
    kv = KVTable(
        ev.select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").alias("value"),
            F.col("event_id").alias("seq"),
            "ts",
        ).select("key", "value", "seq", "ts")
    )
    live = kv.resolve().select("key", "value", "ts")
    hw = ev.agg(F.max("ts").alias("gmax"))
    age = F.unix_micros("gmax") - F.unix_micros("ts")
    return live.crossJoin(F.broadcast(hw)).select(
        "key",
        "value",
        age.cast("bigint").alias("age_us"),
        F.when(age > TTL_DAYS * 86_400_000_000, 1).otherwise(0).alias("expired"),
    )


@register(
    "kv_cas_conditional_update",
    tags=("kv", "cdc"),
    oracle="""
WITH live AS (
  SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value
  FROM (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events)
  WHERE rn = 1
), attempts AS (
  -- even users: expected == live value (CAS succeeds);
  -- odd users: expected is a stale guess (CAS conflicts)
  SELECT l.key,
         CASE WHEN CAST(l.key AS BIGINT) % 2 = 0 THEN l.value ELSE 'view' END AS expected,
         'upgraded' AS new_value,
         l.value AS current_value
  FROM live l
), outcome AS (
  SELECT key,
         CASE WHEN expected = current_value THEN new_value ELSE current_value END AS value,
         CASE WHEN expected = current_value THEN 'applied' ELSE 'conflict' END AS cas
  FROM attempts
)
SELECT cas, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(count(DISTINCT value) AS BIGINT) AS n_distinct_values
FROM outcome GROUP BY cas
""",
)
def kv_cas_conditional_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare-and-swap over the LWW store: each attempt carries
    (key, expected, new); the write applies ONLY where expected equals
    the live value, otherwise the attempt reports a conflict and the
    row is untouched — optimistic concurrency, the fourth KV verb after
    get/put/del (etcd/DynamoDB conditional writes; the reference's
    unconditional overwrite, `local/store.js:117-133`, cannot express
    it). Batch-relational form: resolve → join attempts on key → one
    conditional projection; conflicts cost nothing extra because the
    decision IS the join output. Even-keyed attempts expect the true
    value (apply), odd-keyed expect a stale one (conflict), so both
    paths are exercised deterministically."""
    ev = load_table(spark, sf_dir, "events")
    kv = KVTable(
        ev.select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").alias("value"),
            F.col("event_id").alias("seq"),
        )
    )
    live = kv.resolve().select("key", F.col("value").alias("current_value"))
    attempts = live.select(
        "key",
        F.when(F.col("key").cast("bigint") % 2 == 0, F.col("current_value"))
        .otherwise(F.lit("view"))
        .alias("expected"),
        F.lit("upgraded").alias("new_value"),
        "current_value",
    )
    applied = F.col("expected") == F.col("current_value")
    outcome = attempts.select(
        "key",
        F.when(applied, F.col("new_value")).otherwise(F.col("current_value")).alias("value"),
        F.when(applied, "applied").otherwise("conflict").alias("cas"),
    )
    return outcome.groupBy("cas").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.count_distinct(F.col("value")).cast("bigint").alias("n_distinct_values"),
    )


@register(
    "kv_snapshot_read_asof",
    tags=("kv", "temporal"),
    oracle="""
WITH horizon AS (
  SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS s FROM events
), ops AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         round(value, 4) AS value,
         event_id AS seq,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn_now
  FROM events
), snap AS (
  SELECT o.key, o.op, o.value, o.seq,
         row_number() OVER (PARTITION BY o.key ORDER BY o.seq DESC) AS rn
  FROM ops o, horizon h
  WHERE o.seq <= h.s
)
SELECT a.key,
       a.value AS value_asof,
       CAST(a.seq AS BIGINT) AS version_seq,
       CAST((SELECT s FROM horizon) AS BIGINT) AS snapshot_seq
FROM snap a
WHERE a.rn = 1 AND a.op <> 'delete'
""",
)
def kv_snapshot_read_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVCC snapshot read — the time-travel verb over the versioned
    store: materialize the KV state AS OF sequence S (the stream's
    midpoint here; any commit watermark in production) by keeping each
    key's newest version with seq <= S, tombstones shadowing like in
    [[kv_cdc_tombstone_apply]]'s current-state read. This is the read
    side of snapshot isolation (and what Delta/Iceberg time travel
    resolves per file instead of per key): reads never block on newer
    writes because the filter is a pure predicate on the version
    column. One seq-filtered window per key — the same single shuffle
    as the current-state read, so a snapshot costs no more than HEAD;
    [[temporal_bitemporal_asof]] is the two-axis generalization."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    horizon = ev.agg(
        F.floor(F.max("event_id") / 2).cast("bigint").alias("s")
    )
    ops = change_feed(ev)
    asof = ops.crossJoin(F.broadcast(horizon)).filter(F.col("seq") <= F.col("s"))
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    return (
        asof.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select(
            "key",
            F.col("value").alias("value_asof"),
            F.col("seq").cast("bigint").alias("version_seq"),
            F.col("s").cast("bigint").alias("snapshot_seq"),
        )
    )
