"""Multimodal columns: opaque `binary` payloads with typed metadata, and
the Arrow-batched decode/feature-extract plumbing.

The container has no image/audio codecs, so the *decode* step is a
deterministic fake (`fake_features`), but the Spark-side plumbing is
real and tested: binary column construction, typed metadata struct,
`mapInPandas` batch iteration with an explicit output schema, and
partition-count preservation.

Scale posture: payloads stay opaque bytes end-to-end (no JVM↔Python
round-trip except inside the Arrow batches that need decoding); metadata
lives in plain columns so pruning/filtering works without touching
payloads; feature extraction is embarrassingly parallel with zero
shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex_int, md5_int, md5_int_sql
from ..functions.normalize import SPLIT_LOWER_SQL, words
from ..registry import register
from ..sources import load_table


def fake_features(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in feature extractor over opaque bytes:
    (n_bytes, first_byte, last_byte). Replays exactly in SQL so the
    plumbing is oracle-checkable."""
    return len(payload), payload[0] if payload else 0, payload[-1] if payload else 0


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batches in, feature rows out."""
    for pdf in batches:
        feats = pdf["payload"].map(fake_features)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": feats.map(lambda t: t[0]),
                "first_byte": feats.map(lambda t: t[1]),
                "last_byte": feats.map(lambda t: t[2]),
            }
        )


@register(
    "multimodal_metadata",
    tags=("multimodal",),
    oracle="""
SELECT source,
       count(*)                               AS n_assets,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       round(avg(octet_length(encode(text))), 4) AS avg_bytes,
       max(octet_length(encode(text)))        AS max_bytes
FROM documents
GROUP BY source
""",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads (documents.text encoded
    as the stand-in payload): metadata aggregates never open the payload."""
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id", "source", F.encode("text", "UTF-8").alias("payload")
    )
    return assets.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.round(F.avg(F.octet_length("payload")), 4).alias("avg_bytes"),
        F.max(F.octet_length("payload")).alias("max_bytes"),
    )


@register(
    "multimodal_features",
    tags=("multimodal",),
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       ord(substr(text, 1, 1))    AS first_byte,
       ord(substr(text, length(text), 1)) AS last_byte
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/feature pipeline: binary payload → mapInPandas (Arrow
    batches) → typed feature columns. The feature fn is the deterministic
    stub; swapping in a real codec changes only `fake_features`."""
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return assets.mapInPandas(
        extract_features,
        schema="doc_id long, n_bytes long, first_byte long, last_byte long",
    )


def sample_frames(payload: bytes, stride: int) -> list[tuple[int, int]]:
    """Deterministic stand-in frame sampler over an opaque byte stream:
    every stride-th byte is 'a frame' (frame_idx, frame_byte). A real
    video path wires ffmpeg keyframe extraction here — the Spark-side
    shape (one row in → N frame rows out, explicit schema, Arrow
    batches) is exactly what production uses."""
    return [(i // stride, payload[i]) for i in range(0, len(payload), stride)]


FRAME_STRIDE = 64


def extract_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one asset row → N frame rows (flatMap shape)."""
    for pdf in batches:
        out_ids, out_idx, out_byte = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for idx, b in sample_frames(payload, FRAME_STRIDE):
                out_ids.append(doc_id)
                out_idx.append(idx)
                out_byte.append(b)
        yield pd.DataFrame({"doc_id": out_ids, "frame_idx": out_idx, "frame_byte": out_byte})


@register(
    "multimodal_frame_sample",
    tags=("multimodal",),
    oracle=f"""
WITH assets AS (
  SELECT doc_id, encode(text) AS payload FROM documents WHERE doc_id <= 100
), frames AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(octet_length(payload) * 1.0 / {FRAME_STRIDE}) AS BIGINT))) AS frame_idx,
         payload
  FROM assets
)
SELECT doc_id, frame_idx,
       ord(substr(CAST(payload AS VARCHAR), CAST(frame_idx * {FRAME_STRIDE} + 1 AS INT), 1)) AS frame_byte
FROM frames
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque payloads: mapInPandas flatMap (1 asset
    → N frames) with explicit schema. The oracle replays the stride
    arithmetic in SQL. ASCII payloads keep ord()==byte on both engines;
    real codecs swap into sample_frames without touching the plan."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    assets = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return assets.mapInPandas(
        extract_frames, schema="doc_id long, frame_idx long, frame_byte long"
    )


def byte_entropy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel, properly vectorized: np.frombuffer + bincount
    per payload — no Python loop over bytes. This is the real-kernel
    pattern (unlike the documented decode stubs): numpy over the Arrow
    buffer, one output row per asset."""
    import numpy as np

    for pdf in batches:
        ids, ents, sizes = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, dtype=np.uint8)
            counts = np.bincount(b, minlength=256)
            p = counts[counts > 0] / b.size
            ids.append(doc_id)
            ents.append(float(-(p * np.log2(p)).sum()))
            sizes.append(b.size)
        yield pd.DataFrame({"doc_id": ids, "n_bytes": sizes, "entropy": ents})


@register(
    "multimodal_byte_entropy",
    tags=("multimodal", "quality"),
    oracle="""
WITH assets AS (
  SELECT doc_id, text FROM documents WHERE doc_id <= 200
), chars AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
  FROM assets, unnest(range(1, length(text) + 1)) AS t(i)
), freq AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
), tot AS (
  SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id
)
SELECT f.doc_id,
       CAST(t.n AS BIGINT) AS n_bytes,
       round(-sum((f.c * 1.0 / t.n) * log2(f.c * 1.0 / t.n)), 4) AS entropy
FROM freq f JOIN tot t ON f.doc_id = t.doc_id
GROUP BY f.doc_id, t.n
""",
)
def multimodal_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon byte entropy per opaque payload — the classic 'is this
    blob compressed/encrypted or structured?' triage signal a multimodal
    ingest runs before decode. Vectorized numpy kernel over Arrow
    batches (zero shuffle, partition-preserving); the oracle replays the
    distribution entropy character-wise (payloads are ASCII so byte ==
    char on both engines)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    assets = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    out = assets.mapInPandas(
        byte_entropy_batches, schema="doc_id long, n_bytes long, entropy double"
    )
    return out.select("doc_id", "n_bytes", F.round("entropy", 4).alias("entropy"))


SHARD_BYTES = 200_000  # target payload bytes per WebDataset-style shard


@register(
    "multimodal_shard_manifest",
    tags=("multimodal", "serving"),
    oracle=f"""
WITH assets AS (
  SELECT doc_id, source, octet_length(encode(text)) AS n_bytes,
         md5(CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
), placed AS (
  SELECT source, doc_id, n_bytes,
         CAST(floor((sum(n_bytes) OVER (PARTITION BY source ORDER BY hh, doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_bytes) / {SHARD_BYTES} ) AS BIGINT) AS shard_idx
  FROM assets
)
SELECT source, shard_idx,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM placed
GROUP BY source, shard_idx
""",
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest: binary assets stream through each
    source in deterministic md5 order and fall greedily into
    ~200 KB-payload shards (shard_idx = floor(preceding-bytes-cumsum /
    budget) — the byte-budget twin of `pipeline_pack_sequences`). The
    manifest rows (counts, byte totals, id ranges per shard) are what a
    training dataloader consumes to schedule shard fetches.

    One window per source partition over metadata only — payloads are
    never opened, so at 100 TB the manifest pass touches octet lengths,
    not bytes; the actual shard write is `repartition(shard_key)` +
    foreachPartition tar-writer against the same assignment."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    assets = docs.select(
        "doc_id",
        "source",
        F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        F.md5(F.col("doc_id").cast("string")).alias("hh"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("hh", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = assets.withColumn(
        "shard_idx",
        F.floor((F.sum("n_bytes").over(w) - F.col("n_bytes")) / SHARD_BYTES).cast(
            "bigint"
        ),
    )
    return placed.groupBy("source", "shard_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("n_bytes").cast("bigint").alias("shard_bytes"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


def arrow_batch_stats(batches):
    """mapInArrow kernel: per-row byte stats computed at the RecordBatch
    level with pyarrow.compute — no pandas materialization at all."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        payload = batch.column("payload")
        lengths = pc.binary_length(payload)
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), lengths.cast(pa.int64())],
            names=["doc_id", "n_bytes"],
        )


@register(
    "multimodal_arrow_batch_stats",
    tags=("multimodal", "udf"),
    oracle="""
SELECT doc_id, octet_length(encode(text)) AS n_bytes
FROM documents
""",
)
def multimodal_arrow_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOWEST-level Python batch surface: `mapInArrow` hands the
    kernel raw Arrow RecordBatches (no pandas conversion), the right
    tier for binary-payload kernels where pandas object-dtype boxing of
    bytes dominates runtime — codec libs that accept Arrow buffers
    (pyarrow.compute here) process payloads zero-copy. Completes the
    Python ladder: built-ins > pandas_udf > mapInPandas > mapInArrow;
    hash-matching the plain SQL oracle proves the Arrow path is
    value-exact, not just fast."""
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return assets.mapInArrow(arrow_batch_stats, schema="doc_id long, n_bytes long")


_NIB_MULT = 512  # base quantizer gain: floor(512 * count / len), capped …
_NIB_CAP = 127  # … at 7 bits per nibble count (base resolution)
_NIB_BASE = _NIB_CAP + 1
_L1_MAX = 15  # verify threshold on the 16-dim histogram, in BASE quantizer units
_NIB_N0 = 500  # corpus size at which the quantizer starts sharpening


def _nib_extra_bits(n_docs: int) -> int:
    """Data-adaptive quantizer sharpening (VERDICT r5 #2, the
    `adaptive_n_planes` formula ported to a quantizer): each extra bit
    doubles the per-bin resolution, multiplying the distinct-value space
    of a 4-bin band by ~16, so ``ceil(log2(N/N0) / 4)`` extra bits hold
    the expected band-bucket collision count ~constant as the corpus
    grows. 0 at N <= 500 (fixture outputs unchanged), 1 at sf0.1 (5k
    docs), 2 at sf1 (50k)."""
    import math

    if n_docs <= _NIB_N0:
        return 0
    return max(0, math.ceil(math.log2(n_docs / float(_NIB_N0)) / 4.0))


def _nibble_sig(h, mult: int, cap: int):
    """16-dim quantized nibble histogram of a hex string column —
    pure JVM built-ins (length/replace), no Python."""
    ln = F.length(h)
    vals = []
    for c in "0123456789ABCDEF":
        cnt = ln - F.length(F.expr(f"replace(_h, '{c}', '')"))
        vals.append(
            F.least(
                F.lit(cap).cast("bigint"),
                F.floor(F.lit(float(mult)) * cnt / ln).cast("bigint"),
            )
        )
    return F.array(*vals)


@register(
    "multimodal_signature_neardup",
    tags=("multimodal", "dedup"),
    oracle=f"""
WITH q AS (
  SELECT CAST({_NIB_MULT} * power(2, x) AS BIGINT) AS mult,
         CAST({_NIB_BASE} * power(2, x) AS BIGINT) - 1 AS cap,
         CAST({_NIB_BASE} * power(2, x) AS BIGINT) AS base,
         CAST({_L1_MAX} * power(2, x) AS BIGINT) AS l1max
  FROM (SELECT CASE WHEN count(*) <= {_NIB_N0} THEN 0
               ELSE GREATEST(0, CAST(ceil(log2(count(*) / {_NIB_N0}.0) / 4.0)
                                     AS INT)) END AS x
        FROM documents)
),
h AS (SELECT doc_id, upper(hex(encode(text))) AS h FROM documents),
nib AS (SELECT doc_id, {", ".join(
    f"least(q.cap, CAST(floor(CAST(q.mult AS DOUBLE) * (length(h) - length(replace(h, '{c}', ''))) / length(h)) AS BIGINT)) AS n_{c}"
    for c in "0123456789ABCDEF")} FROM h CROSS JOIN q),
sig AS (SELECT doc_id, [n_0,n_1,n_2,n_3,n_4,n_5,n_6,n_7,n_8,n_9,n_A,n_B,n_C,n_D,n_E,n_F] AS s FROM nib),
bands AS (
  SELECT doc_id, b,
         s[b*4+1]*q.base*q.base*q.base + s[b*4+2]*q.base*q.base
           + s[b*4+3]*q.base + s[b*4+4] AS bv
  FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS b) CROSS JOIN q
),
cand AS (
  SELECT a.doc_id AS id_a, c.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared_bands,
       CAST(list_sum(list_transform(list_zip(sa.s, sb.s), p -> abs(p[1] - p[2]))) AS BIGINT) AS l1_dist
FROM cand
JOIN sig sa ON sa.doc_id = cand.id_a
JOIN sig sb ON sb.doc_id = cand.id_b
CROSS JOIN q
WHERE list_sum(list_transform(list_zip(sa.s, sb.s), p -> abs(p[1] - p[2]))) <= q.l1max
""",
)
def multimodal_signature_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-level near-duplicate detection over opaque binary payloads
    via a banded perceptual-style signature — the multimodal twin of
    MinHash-LSH (`operators/dedup.py`), operating on BYTES, not tokens.

    Signature: the 16-bin nibble histogram of the payload's hex
    rendering, quantized to 7 + extra bits per bin where extra =
    ceil(log2(N/500)/4) is DATA-ADAPTIVE (`_nib_extra_bits`, VERDICT r5
    #2): each extra bit multiplies a 4-bin band's value space ~16x, so
    the quantizer sharpens exactly fast enough to hold band-bucket
    collisions — the quadratic term that measured 7.5x at sf1 under the
    static knob — ~constant as the corpus grows. The L1 verify
    threshold scales by the same 2^extra (same relative distance in
    quantizer units), and the DuckDB oracle derives the identical
    extra-bit count from count(*), so the adaptivity itself is
    hash-checked. (A real pHash / chromaprint drops into the signature
    step unchanged — the container ships no codecs, SURVEY §2.3.)
    Banding: 4 bands of 4 bins packed into one integer; any shared band
    makes a candidate pair (equi-join — the all-pairs comparison never
    materializes).

    Plan shape at 100 TB: signatures are one map-side pass over the
    payload bytes (16 ints per asset — the payloads themselves never
    shuffle); the band self-join shuffles 4 small (band, bucket, id)
    rows per asset; verification joins signatures — not payloads — back
    by id. Same candidate-generation algebra the driver verified for
    dedup_minhash_lsh (r1) and dedup_prefix_filter_join (window r4).
    """
    docs = load_table(spark, sf_dir, "documents")
    eb = _nib_extra_bits(docs.count())
    mult, cap, base = _NIB_MULT << eb, (_NIB_BASE << eb) - 1, _NIB_BASE << eb
    l1_max = _L1_MAX << eb
    sig = (
        docs.select(
            "doc_id", F.upper(F.hex(F.encode("text", "UTF-8"))).alias("_h")
        )
        .select("doc_id", _nibble_sig(F.col("_h"), mult, cap).alias("s"))
    )
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("b"),
        "s",
    ).select(
        "doc_id",
        "b",
        (
            F.element_at("s", F.col("b") * 4 + 1) * base**3
            + F.element_at("s", F.col("b") * 4 + 2) * base**2
            + F.element_at("s", F.col("b") * 4 + 3) * base
            + F.element_at("s", F.col("b") * 4 + 4)
        ).alias("bv"),
    )
    a = bands.select(F.col("doc_id").alias("id_a"), "b", "bv")
    c = bands.select(F.col("doc_id").alias("id_b"), "b", "bv")
    cand = (
        a.join(c, ["b", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    l1 = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.abs(x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("l1_dist", l1)
        .filter(F.col("l1_dist") <= l1_max)
        .select("id_a", "id_b", "n_shared_bands", "l1_dist")
    )


# Aspect-ratio bucketing (SDXL-style): train-batch groups must share a
# resolution, so each asset maps to the nearest canonical aspect bucket.
# Dims are derived deterministically from md5 coins (no decoders in the
# container — same portable-hash contract as the shard manifest).
ASPECT_BUCKETS = (
    (1, 512, 512),
    (2, 576, 448),
    (3, 448, 576),
    (4, 640, 384),
    (5, 384, 640),
    (6, 704, 320),
    (7, 320, 704),
)

_BUCKET_VALUES = ", ".join(f"({i}, {w}, {h})" for i, w, h in ASPECT_BUCKETS)


@register(
    "multimodal_aspect_bucket",
    tags=("multimodal", "pipeline"),
    oracle=f"""
WITH dims AS (
  SELECT doc_id,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2)} % 13) AS w,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2, start=3)} % 13) AS h
  FROM documents
), buckets(bucket_id, bucket_w, bucket_h) AS (
  VALUES {_BUCKET_VALUES}
), scored AS (
  SELECT d.doc_id, d.w, d.h, b.bucket_id, b.bucket_w, b.bucket_h,
         abs(d.w * 1.0 / d.h - b.bucket_w * 1.0 / b.bucket_h) AS dist,
         row_number() OVER (
           PARTITION BY d.doc_id
           ORDER BY abs(d.w * 1.0 / d.h - b.bucket_w * 1.0 / b.bucket_h), b.bucket_id
         ) AS rn
  FROM dims d CROSS JOIN buckets b
)
SELECT bucket_id, CAST(bucket_w AS INT) AS bucket_w, CAST(bucket_h AS INT) AS bucket_h,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(w) AS BIGINT) AS sum_w,
       CAST(sum(h) AS BIGINT) AS sum_h,
       round(min(w * 1.0 / h), 6) AS min_ratio,
       round(max(w * 1.0 / h), 6) AS max_ratio
FROM scored WHERE rn = 1
GROUP BY bucket_id, bucket_w, bucket_h
""",
)
def multimodal_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for multimodal training batches (the SDXL
    / NovelAI bucketing step): every asset joins the canonical bucket
    whose aspect ratio is nearest its own, so batch groups share a
    target resolution and crops stay minimal. Asset dims come from md5
    coins (the container has no decoders; in production this column is
    written by the metadata extractor — `multimodal_metadata`'s probe).

    Plan shape: the bucket list is a 7-element array LITERAL, so the
    nearest-bucket argmin is `array_min` over (dist, bucket_id, w, h)
    structs — struct comparison is lexicographic, giving the distance
    order with the bucket_id tie-break — one whole-stage-codegen
    projection with NO join and NO per-asset shuffle (the oracle's
    cross-join+row_number spells the same argmin relationally). The
    only exchange in the plan is the final 7-group agg. Float
    discipline: w/h with 64-multiple ints is one correctly-rounded
    IEEE division on both engines; dist compare is exact ops on those
    doubles; ties break on bucket_id."""
    docs = load_table(spark, sf_dir, "documents")
    hh = F.md5(F.col("doc_id").cast("string"))
    dims = docs.select(
        "doc_id",
        (64 * (4 + hex_int(hh, 2) % 13)).alias("w"),
        (64 * (4 + hex_int(hh, 2, start=3) % 13)).alias("h"),
    )
    r = F.col("w") * 1.0 / F.col("h")
    candidates = F.array(
        *[
            F.struct(
                F.abs(r - F.lit(bw / bh)).alias("dist"),
                F.lit(i).alias("bucket_id"),
                F.lit(bw).alias("bucket_w"),
                F.lit(bh).alias("bucket_h"),
            )
            for i, bw, bh in ASPECT_BUCKETS
        ]
    )
    assigned = dims.withColumn("best", F.array_min(candidates)).select(
        "w",
        "h",
        F.col("best.bucket_id").alias("bucket_id"),
        F.col("best.bucket_w").alias("bucket_w"),
        F.col("best.bucket_h").alias("bucket_h"),
    )
    return (
        assigned.groupBy("bucket_id", "bucket_w", "bucket_h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.sum("w").cast("bigint").alias("sum_w"),
            F.sum("h").cast("bigint").alias("sum_h"),
            F.round(F.min(r), 6).alias("min_ratio"),
            F.round(F.max(r), 6).alias("max_ratio"),
        )
    )


# Deterministic modality assignment for balance auditing: image 60%,
# audio 30%, video 10% (md5 coin on doc_id — same portable-hash rule as
# the shard manifest; in production this column comes from the ingest
# MIME sniffer).
MODALITY_SHARDS = 8


@register(
    "multimodal_modality_balance",
    tags=("multimodal", "profiling"),
    oracle=f"""
WITH assigned AS (
  SELECT doc_id,
         {md5_int_sql("CAST(doc_id AS VARCHAR)", 6, start=5)} % {MODALITY_SHARDS} AS shard,
         CASE WHEN {md5_int_sql("CAST(doc_id AS VARCHAR)", 2, start=11)} % 10 < 6 THEN 'image'
              WHEN {md5_int_sql("CAST(doc_id AS VARCHAR)", 2, start=11)} % 10 < 9 THEN 'audio'
              ELSE 'video' END AS modality
  FROM documents
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(count(*) FILTER (WHERE modality = 'image') AS BIGINT) AS n_image,
       CAST(count(*) FILTER (WHERE modality = 'audio') AS BIGINT) AS n_audio,
       CAST(count(*) FILTER (WHERE modality = 'video') AS BIGINT) AS n_video,
       round(greatest(count(*) FILTER (WHERE modality = 'image'),
                      count(*) FILTER (WHERE modality = 'audio'),
                      count(*) FILTER (WHERE modality = 'video')) * 1.0 / count(*), 4)
           AS majority_share
FROM assigned
GROUP BY shard
""",
)
def multimodal_modality_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard modality-mix audit for a multimodal training corpus:
    each serving shard should hold roughly the global image/audio/video
    mix — a shard whose majority_share spikes starves the other
    modalities in every batch drawn from it (the dataloader-level twin
    of `pipeline_domain_mix`). Assignment is a conditional projection +
    one hash agg on shard; at 100 TB the audit cost is the metadata
    scan, payloads untouched."""
    docs = load_table(spark, sf_dir, "documents")
    hh = F.md5(F.col("doc_id").cast("string"))
    shard = hex_int(hh, 6, start=5) % MODALITY_SHARDS
    mcoin = hex_int(hh, 2, start=11) % 10
    modality = (
        F.when(mcoin < 6, "image").when(mcoin < 9, "audio").otherwise("video")
    )
    assigned = docs.select(shard.alias("shard"), modality.alias("modality"))
    cnt = lambda m: F.count(F.when(F.col("modality") == m, 1))
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        cnt("image").cast("bigint").alias("n_image"),
        cnt("audio").cast("bigint").alias("n_audio"),
        cnt("video").cast("bigint").alias("n_video"),
        F.round(
            F.greatest(cnt("image"), cnt("audio"), cnt("video")) * 1.0 / F.count(F.lit(1)),
            4,
        ).alias("majority_share"),
    )


# Caption-pair curation thresholds: tokens-per-megapixel band (LAION-
# style image-text filtering, decoders stubbed — dims from md5 coins).
CAPTION_MIN_TOK_PER_MPX = 8.0
CAPTION_MAX_TOK = 4096


@register(
    "multimodal_caption_filter",
    tags=("multimodal", "pipeline", "quality"),
    oracle=f"""
WITH pairs AS (
  SELECT doc_id,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2)} % 13) AS w,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2, start=3)} % 13) AS h,
         len(list_filter({SPLIT_LOWER_SQL}, t -> t <> '')) AS n_tok
  FROM documents
), scored AS (
  SELECT doc_id, w, h, n_tok,
         n_tok * 1000000.0 / (w * h) AS tok_per_mpx,
         CASE WHEN n_tok * 1000000.0 / (w * h) >= {CAPTION_MIN_TOK_PER_MPX}
               AND n_tok <= {CAPTION_MAX_TOK} THEN 1 ELSE 0 END AS keep
  FROM pairs
)
SELECT CAST(w * h AS BIGINT) AS area_px,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       round(sum(keep) * 1.0 / count(*), 4) AS kept_rate,
       round(min(tok_per_mpx), 4) AS min_density,
       round(max(tok_per_mpx), 4) AS max_density
FROM scored
GROUP BY w * h
""",
)
def multimodal_caption_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair curation (the LAION/DataComp caption filter
    family, sans CLIP): keep pairs whose caption DENSITY — tokens per
    megapixel — clears a floor, dropping big images with threadbare
    alt-text (the dominant web-crawl failure mode) and absurdly long
    captions. Dims come from the md5-coin metadata (no decoders in the
    container; production reads the extractor's width/height columns),
    captions are the documents' text. Pure projection + one hash agg
    keyed by area; density is one exact division of exact integers per
    row. Reports per-area keep rates so the threshold's bite is
    inspectable before committing the filter corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    hh = F.md5(F.col("doc_id").cast("string"))
    w = 64 * (4 + hex_int(hh, 2) % 13)
    h = 64 * (4 + hex_int(hh, 2, start=3) % 13)
    n_tok = F.size(words("text"))
    scored = docs.select(
        (w * h).cast("bigint").alias("area_px"),
        n_tok.alias("n_tok"),
        (n_tok * 1_000_000.0 / (w * h)).alias("tok_per_mpx"),
    ).withColumn(
        "keep",
        F.when(
            (F.col("tok_per_mpx") >= CAPTION_MIN_TOK_PER_MPX)
            & (F.col("n_tok") <= CAPTION_MAX_TOK),
            1,
        ).otherwise(0),
    )
    return scored.groupBy("area_px").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.round(F.sum("keep") * 1.0 / F.count(F.lit(1)), 4).alias("kept_rate"),
        F.round(F.min("tok_per_mpx"), 4).alias("min_density"),
        F.round(F.max("tok_per_mpx"), 4).alias("max_density"),
    )


@register(
    "multimodal_interleaved_assembly",
    tags=("multimodal", "pipeline"),
    oracle=f"""
WITH dims AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), w -> trim(w) <> '')) AS n_text,
         1 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2, start=5)} % 3
           AS n_images,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2)} % 13) AS w,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2, start=3)} % 13) AS h
  FROM documents
), budget AS (
  SELECT doc_id, source, n_text, n_images,
         CAST(ceil(w / 448.0) * ceil(h / 448.0) AS BIGINT) AS tiles,
         n_text + n_images * (256 * CAST(ceil(w / 448.0) * ceil(h / 448.0) AS BIGINT) + 2)
           AS total_tokens
  FROM dims
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_images) AS BIGINT) AS n_images,
       CAST(sum(total_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(CASE WHEN total_tokens <= 8192 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fit_8k,
       round(avg(total_tokens * 1.0 / 8192), 4) AS avg_context_util,
       round(sum(n_images * 256.0 * tiles) / sum(total_tokens), 4)
         AS image_token_share
FROM budget
GROUP BY source
""",
)
def multimodal_interleaved_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved text+image sequence budgeting — the VLM training
    twin of [[pipeline_context_window_report]]: each document carries
    1-3 images (md5 coin; production reads the real asset manifest),
    every image costs 256 tokens per 448x448 tile (tile count from the
    same md5-derived dims as [[multimodal_aspect_bucket]]) plus 2
    sentinel tokens, and the per-source report says how many assembled
    sequences fit an 8k context, the mean context utilization, and the
    image share of the token budget (the knob that decides text:image
    mixing ratio — Laurencon et al. '23 OBELICS report exactly this).
    Pure integer arithmetic per row -> source-keyed hash agg; no
    shuffle wider than the 20-row report at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    n_text = F.size(words("text"))
    n_images = 1 + md5_int(key, 2, start=5) % 3
    w = 64 * (4 + md5_int(key, 2) % 13)
    h = 64 * (4 + md5_int(key, 2, start=3) % 13)
    tiles = (F.ceil(w / 448.0) * F.ceil(h / 448.0)).cast("bigint")
    budget = docs.select(
        "source",
        n_text.alias("n_text"),
        n_images.alias("n_images"),
        tiles.alias("tiles"),
        (n_text + n_images * (256 * tiles + 2)).alias("total_tokens"),
    )
    return budget.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_images").cast("bigint").alias("n_images"),
        F.sum("total_tokens").cast("bigint").alias("sum_tokens"),
        F.sum(F.when(F.col("total_tokens") <= 8192, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fit_8k"),
        F.round(F.avg(F.col("total_tokens") * 1.0 / 8192), 4).alias(
            "avg_context_util"
        ),
        F.round(
            F.sum(F.col("n_images") * 256.0 * F.col("tiles"))
            / F.sum("total_tokens"),
            4,
        ).alias("image_token_share"),
    )


@register(
    "multimodal_audio_framing",
    tags=("multimodal", "pipeline"),
    oracle=f"""
WITH clips AS (
  SELECT doc_id, source,
         500 + {md5_int_sql("'audio-' || CAST(doc_id AS VARCHAR)", 4)} % 60000 AS dur_ms
  FROM documents
), framed AS (
  SELECT doc_id, source, dur_ms,
         1 + (dur_ms - 25) // 10 AS n_frames,
         CAST(ceil((1 + (dur_ms - 25) // 10) / 8.0) AS BIGINT) AS audio_tokens
  FROM clips
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_clips,
       round(sum(dur_ms) / 1000.0, 1) AS total_seconds,
       CAST(sum(n_frames) AS BIGINT) AS total_frames,
       CAST(sum(audio_tokens) AS BIGINT) AS total_audio_tokens,
       round(avg(audio_tokens), 2) AS avg_tokens_per_clip,
       CAST(sum(CASE WHEN dur_ms <= 30000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fit_30s,
       round(sum(CASE WHEN dur_ms <= 30000 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS fit_30s_frac
FROM framed
GROUP BY source
""",
)
def multimodal_audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing budget — the Whisper-style preprocessing math for
    the audio modality: 25 ms windows on a 10 ms hop give
    n_frames = 1 + (dur-25)//10, an 8x conv stack reduces frames to
    encoder tokens, and the per-source report totals seconds, frames,
    tokens, and the 30 s-chunk fit rate (clips over budget need the
    segmenting pass). Durations derive from an md5 coin over doc_id
    (same stand-in discipline as [[multimodal_aspect_bucket]] — the
    container has no audio decoders; production reads the probe's
    duration field, and [[multimodal_metadata]] shows that plumbing).
    All integer arithmetic in-scan, one source-keyed hash agg — the
    audio sibling of [[multimodal_interleaved_assembly]]."""
    docs = load_table(spark, sf_dir, "documents")
    dur = 500 + md5_int(F.concat(F.lit("audio-"), F.col("doc_id").cast("string")), 4) % 60000
    n_frames = 1 + F.floor((dur - 25) / 10).cast("bigint")
    audio_tokens = F.ceil(n_frames / 8.0).cast("bigint")
    framed = docs.select(
        "source",
        dur.alias("dur_ms"),
        n_frames.alias("n_frames"),
        audio_tokens.alias("audio_tokens"),
    )
    return framed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clips"),
        F.round(F.sum("dur_ms") / 1000.0, 1).alias("total_seconds"),
        F.sum("n_frames").cast("bigint").alias("total_frames"),
        F.sum("audio_tokens").cast("bigint").alias("total_audio_tokens"),
        F.round(F.avg("audio_tokens"), 2).alias("avg_tokens_per_clip"),
        F.sum(F.when(F.col("dur_ms") <= 30000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fit_30s"),
        F.round(
            F.sum(F.when(F.col("dur_ms") <= 30000, 1).otherwise(0)) * 1.0
            / F.count(F.lit(1)),
            4,
        ).alias("fit_30s_frac"),
    )


PATCH = 14  # ViT patch edge (pixels)
VIT_MAX_TOKENS = 1024  # per-image visual-token budget


@register(
    "multimodal_patch_budget",
    tags=("multimodal", "pipeline", "llm"),
    oracle=f"""
WITH dims AS (
  SELECT doc_id,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2)} % 13) AS w,
         64 * (4 + {md5_int_sql("CAST(doc_id AS VARCHAR)", 2, start=3)} % 13) AS h
  FROM documents
), toks AS (
  SELECT doc_id, w, h,
         ((w + {PATCH} - 1) // {PATCH}) * ((h + {PATCH} - 1) // {PATCH})
           AS native_tokens,
         CASE WHEN ((w + {PATCH} - 1) // {PATCH})
                   * ((h + {PATCH} - 1) // {PATCH}) > {VIT_MAX_TOKENS}
              THEN 1 ELSE 0 END AS needs_downscale,
         (least(w, h) // {PATCH}) * (least(w, h) // {PATCH})
           AS square_crop_tokens
  FROM dims
), grid AS (
  SELECT CASE WHEN w > h THEN 'landscape'
              WHEN w < h THEN 'portrait' ELSE 'square' END AS orientation,
         CAST(count(*) AS BIGINT) AS n_assets,
         CAST(sum(native_tokens) AS BIGINT) AS native_tokens,
         CAST(sum(least(native_tokens, {VIT_MAX_TOKENS})) AS BIGINT)
           AS budgeted_tokens,
         CAST(sum(needs_downscale) AS BIGINT) AS n_downscaled,
         CAST(sum(square_crop_tokens) AS BIGINT) AS square_crop_tokens,
         CAST(sum(native_tokens - square_crop_tokens) AS BIGINT)
           AS crop_loss_tokens
  FROM toks
  GROUP BY 1
)
SELECT orientation, n_assets, native_tokens, budgeted_tokens, n_downscaled,
       square_crop_tokens, crop_loss_tokens,
       round(crop_loss_tokens * 1e0 / native_tokens, 6) AS crop_loss_share
FROM grid
""",
)
def multimodal_patch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT visual-token budget sheet: each asset's {PATCH}x{PATCH}
    patch-grid token count at native resolution, capped to the
    {VIT_MAX_TOKENS}-token context budget (the NaViT/Qwen-VL dynamic-
    resolution accounting), vs the tokens a naive square center-crop
    would keep — per orientation, so the sheet answers the two
    capacity-planning questions a multimodal ingest asks BEFORE
    decoding a single pixel: how many visual tokens does this corpus
    cost, and how much information does square-cropping throw away
    (crop_loss_share concentrates in the extreme aspect ratios that
    [[multimodal_aspect_bucket]] assigns to distant buckets — the two
    sheets argue for the same bucketed-resize policy from opposite
    ends). Dims come from the SAME md5 coins as the bucketing op (the
    container ships no decoders; production writes these columns from
    [[multimodal_metadata]]'s probe), and every token count is exact
    integer ceil-division arithmetic — nothing can drift cross-engine.

    Scale: one scan reduced to a 3-row orientation grid with map-side
    combine; the per-asset arithmetic is codegen'd integer math."""
    key = F.col("doc_id").cast("string")
    dims = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (64 * (4 + md5_int(key, 2) % 13)).alias("w"),
        (64 * (4 + md5_int(key, 2, start=3) % 13)).alias("h"),
    )
    native = (
        F.floor((F.col("w") + PATCH - 1) / PATCH)
        * F.floor((F.col("h") + PATCH - 1) / PATCH)
    ).cast("bigint")
    square = (
        F.floor(F.least("w", "h") / PATCH) * F.floor(F.least("w", "h") / PATCH)
    ).cast("bigint")
    toks = dims.select(
        F.when(F.col("w") > F.col("h"), "landscape")
        .when(F.col("w") < F.col("h"), "portrait")
        .otherwise("square")
        .alias("orientation"),
        native.alias("native_tokens"),
        (native > VIT_MAX_TOKENS).cast("int").alias("needs_downscale"),
        square.alias("square_crop_tokens"),
    )
    return (
        toks.groupBy("orientation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.sum("native_tokens").cast("bigint").alias("native_tokens"),
            F.sum(F.least(F.col("native_tokens"), F.lit(VIT_MAX_TOKENS)))
            .cast("bigint")
            .alias("budgeted_tokens"),
            F.sum("needs_downscale").cast("bigint").alias("n_downscaled"),
            F.sum("square_crop_tokens").cast("bigint").alias("square_crop_tokens"),
            F.sum(F.col("native_tokens") - F.col("square_crop_tokens"))
            .cast("bigint")
            .alias("crop_loss_tokens"),
        )
        .withColumn(
            "crop_loss_share",
            F.round(F.col("crop_loss_tokens") * 1.0 / F.col("native_tokens"), 6),
        )
    )
