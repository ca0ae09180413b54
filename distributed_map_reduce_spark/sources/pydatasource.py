"""Custom connector via the Python DataSource API (Spark 4,
`pyspark.sql.datasource`) — the user-defined source/sink surface.

The reference exposes pluggable dataset groups whose contents any node
can materialize (`store.js` groups); Spark's equivalent extension point
for *new formats* is the DataSource API: a pure-Python class whose
reader declares partitions (the parallelism contract) and yields rows
per partition on executors, Arrow-batched back into the scan.

`HashRangeDataSource` is a deterministic synthetic-table generator —
(id, bucket, score) derived from md5(id) — so the DuckDB oracle can
reproduce every value from `generate_series` + the same md5 arithmetic:
the connector's partition planning, executor-side generation, and
Arrow hand-off are all exercised with a hash-checkable result. At 100 TB
the same class shape wraps any external system (REST pages, message
queues, proprietary formats): one InputPartition per shard/page, reads
stream per-partition with zero driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..functions.hashing import md5_int_py, md5_int_sql
from ..registry import register

_U32 = 4294967296.0  # 2^32: md5-prefix → exact uniform in [0, 1)


def _hash_row(i: int) -> tuple[int, int, int]:
    """(id, bucket, score_raw): md5 digits 9-10 mod 16 and digits 1-8 of
    the id, the twins of the oracles' ``md5_int_sql`` columns."""
    return (i, md5_int_py(str(i), 2, start=9) % 16, md5_int_py(str(i), 8))


class _HashRangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class HashRangeReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 10_000))
        self.num_partitions = int(options.get("partitions", 8))

    def partitions(self):
        """Contiguous id ranges — one InputPartition per Spark task, the
        split contract that makes the source scale-out instead of a
        single-threaded generator."""
        per = -(-self.rows // self.num_partitions)  # ceil
        return [
            _HashRangePartition(lo, min(lo + per, self.rows))
            for lo in range(0, self.rows, per)
        ]

    def read(self, partition):
        # Runs ON EXECUTORS, one call per partition; rows stream back via
        # Arrow batches — the driver never sees the data.
        for i in range(partition.start, partition.end):
            yield _hash_row(i)


class HashRangeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hash_range"

    def schema(self) -> str:
        return "id bigint, bucket int, score_raw bigint"

    def reader(self, schema):
        return HashRangeReader(self.options)


def register_datasource(spark: SparkSession) -> None:
    spark.dataSource.register(HashRangeDataSource)


@register(
    "source_python_datasource",
    tags=("source", "connector"),
    oracle=f"""
WITH src AS (
  SELECT i AS id,
         CAST({md5_int_sql("CAST(i AS VARCHAR)", 2, start=9)} % 16
              AS INTEGER) AS bucket,
         {md5_int_sql("CAST(i AS VARCHAR)", 8)} AS score_raw
  FROM generate_series(0, 9999) AS t(i)
)
SELECT bucket,
       count(*) AS n,
       min(id) AS min_id,
       max(id) AS max_id,
       round(sum(score_raw) / {_U32!r} / count(*), 6) AS avg_score
FROM src
GROUP BY bucket
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python DataSource (8 partitions × md5
    row generator) and aggregate per bucket. score_raw stays an exact
    BIGINT through the sum (no float accumulation order to disagree on);
    the single division to a [0,1) mean happens after aggregation."""
    register_datasource(spark)
    df = (
        spark.read.format("hash_range")
        .option("rows", 10_000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.round(F.sum("score_raw") / F.lit(_U32) / F.count(F.lit(1)), 6).alias(
            "avg_score"
        ),
    )


class HashRangeStreamReader(SimpleDataSourceStreamReader):
    """Offset-based micro-batch reader over the same deterministic
    md5 row generator: each poll serves the next `batch_rows` ids until
    `rows` is exhausted, then reports no-new-data (offset stops
    advancing) so a bounded drain terminates. The offset is a plain
    row counter — the replayable progress marker Spark checkpoints;
    re-reading any [start, end) span yields identical rows, which is
    the exactly-once replay contract a real connector (Kafka offsets,
    Kinesis sequence numbers, REST cursors) must honor."""

    def __init__(self, options):
        self.rows = int(options.get("rows", 1_000))
        self.batch_rows = int(options.get("batchRows", 250))

    def initialOffset(self):
        return {"next": 0}

    def read(self, start):
        lo = int(start["next"])
        hi = min(lo + self.batch_rows, self.rows)
        return (iter(self._gen(lo, hi)), {"next": hi})

    def readBetweenOffsets(self, start, end):
        # Replay path after restart: regenerate the exact span.
        return iter(self._gen(int(start["next"]), int(end["next"])))

    @staticmethod
    def _gen(lo: int, hi: int):
        # A list iterator, not a generator: Spark's simple-reader
        # prefetch cache both next()s and copy.copy()s what read()
        # returns, and generators are not copyable.
        return [_hash_row(i) for i in range(lo, hi)]


class HashRangeStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hash_range_stream"

    def schema(self) -> str:
        return "id bigint, bucket int, score_raw bigint"

    def simpleStreamReader(self, schema):
        return HashRangeStreamReader(self.options)


@register(
    "stream_python_datasource",
    tags=("source", "connector", "streaming"),
    oracle=f"""
WITH src AS (
  SELECT i AS id,
         CAST({md5_int_sql("CAST(i AS VARCHAR)", 2, start=9)} % 16
              AS INTEGER) AS bucket,
         {md5_int_sql("CAST(i AS VARCHAR)", 8)} AS score_raw
  FROM generate_series(0, 999) AS t(i)
)
SELECT bucket,
       count(*) AS n,
       min(id) AS min_id,
       max(id) AS max_id,
       round(sum(score_raw) / {_U32!r} / count(*), 6) AS avg_score
FROM src
GROUP BY bucket
""",
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python data source (Spark 4
    `SimpleDataSourceStreamReader`): the custom connector surface for
    systems that are feeds, not files. The same deterministic md5
    generator as `source_python_datasource` arrives as four offset-run
    micro-batches (250 rows each); a complete-mode aggregation over the
    drained bounded stream must equal the one-shot batch read — which
    is exactly the replayability property (read = f(offsets), no
    hidden state) the API's checkpoint/commit cycle assumes."""
    from ..streaming.jobs import run_to_completion

    spark.dataSource.register(HashRangeStreamSource)
    df = (
        spark.readStream.format("hash_range_stream")
        .option("rows", 1_000)
        .option("batchRows", 250)
        .load()
    )
    agg = df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.round(F.sum("score_raw") / F.lit(_U32) / F.count(F.lit(1)), 6).alias(
            "avg_score"
        ),
    )
    return run_to_completion(spark, agg, "python_stream_src", mode="complete")


# ---------------------------------------------------------------------------
# Python DataSource WRITER (the sink half of the API): JSON-lines files
# with the real two-phase commit protocol — executors write staging
# files and return commit messages; the driver's commit() promotes them
# and stamps _SUCCESS, abort() discards. This is the contract that makes
# a custom sink exactly-once under task retries: a re-run task writes a
# NEW staging file and only the committed attempt is promoted.
#
# SCOPE: the promote step uses os.replace() on the driver against paths
# the executors wrote, so it requires a filesystem SHARED between driver
# and executors — true in local mode (this harness) and on NFS-backed
# clusters, NOT on plain HDFS/S3. The cluster-grade spelling of the same
# protocol routes staging + promotion through one filesystem client
# (fsspec / Hadoop FileSystem, or an S3 multipart-upload id carried in
# the commit message and completed in commit()); the two-phase shape —
# attempt-unique staging, promote only committed attempts — is unchanged.
# ---------------------------------------------------------------------------

import json
import os

from pyspark.sql.datasource import WriterCommitMessage


class _JsonlCommit(WriterCommitMessage):
    """WriterCommitMessage payload: staging path + row count."""

    def __init__(self, staged: str, count: int):
        self.staged = staged
        self.count = count


class JsonlWriter(DataSourceWriter):
    """Two-phase JSONL sink: executors write attempt-unique staging
    files, the driver's commit() promotes them with os.replace().

    SHARED-FILESYSTEM ASSUMPTION (ADVICE r4): the promote step runs on
    the DRIVER against paths the EXECUTORS wrote, which only works when
    both see one filesystem — local mode (this harness) or a mounted
    NFS/FUSE path. On a real cluster with executor-local disks the
    os.replace() would fail or silently commit nothing; the production
    form routes staging through a shared object store / Hadoop
    filesystem abstraction (e.g. write to `s3://.../_staged-...` and
    promote via the store's rename/copy API) — the protocol (attempt-
    unique staging names + driver-side all-or-nothing promote +
    _SUCCESS marker) carries over unchanged, only the byte transport
    differs."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_sink requires option 'path'")

    def write(self, iterator):
        # Runs ON EXECUTORS, one call per partition. TaskContext gives a
        # stable partition id; the attempt-unique staging name keeps
        # retries from clobbering each other.
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(self.path, f"_staged-{pid}-{attempt}.jsonl")
        n = 0
        with open(staged, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(staged, n)

    def commit(self, messages):
        # Driver-side promotion: staging -> final, then _SUCCESS.
        total = 0
        for m in messages:
            final = m.staged.replace("_staged-", "part-")
            os.replace(m.staged, final)
            total += m.count
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write(str(total))

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(m.staged)
            except FileNotFoundError:
                pass


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def schema(self) -> str:
        return "key string, value double"

    def writer(self, schema, overwrite: bool):
        return JsonlWriter(self.options)


@register(
    "sink_python_datasource_writer",
    tags=("sink", "connector"),
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
GROUP BY c_mktsegment
""",
)
def sink_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python DataSource writer API (Spark 4): the
    customer table streams through executor-side JSON-lines writers
    with two-phase commit (staging files -> driver commit() promotion
    -> _SUCCESS), then reads BACK through spark.read.json and
    aggregates — the round trip proves the writer loses/duplicates
    nothing (counts and balances hash-match the table that never left
    parquet). Python repr floats round-trip JSON exactly, so no
    tolerance is needed. The write path parallelism = input partitions;
    the driver handles only commit messages (paths + counts), never
    rows — the same protocol shape FileFormatWriter uses."""
    from ..sources import load_table
    from .scratch import scratch_dir

    spark.dataSource.register(JsonlSinkDataSource)
    out = scratch_dir("jsonl_sink")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("key"), F.col("c_acctbal").alias("value")
    )
    c.write.format("jsonl_sink").option("path", out).mode("append").save()
    # the "_" prefix hides _SUCCESS and any _staged-* file from the reader
    back = spark.read.json(out)
    return back.groupBy(F.col("key").alias("c_mktsegment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("total_bal"),
    )
