"""Table catalog over the driver's parquet fixtures.

The reference's data plane is named groups of (key, value) pairs placed on
nodes by hash (`/root/reference/distribution/all/store.js:106-121`); in
Spark the catalog + parquet scans subsume naming and placement entirely
(SURVEY.md §1.1/§1.4). Tables register as temp views with the same names
DuckDB pre-registers, so oracle SQL and Spark SQL see one namespace.

Scale posture: `spark.read.parquet` gives us columnar scans with predicate
pushdown and column pruning for free; at 100 TB the same call reads a
partitioned directory tree and Catalyst prunes partitions — nothing here
assumes single files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(events: DataFrame) -> DataFrame:
    """Normalize events.ts to a session-TZ (UTC) µs timestamp whatever the
    parquet writer produced: TIMESTAMP(NANOS) arrives as an epoch-nanos
    long (spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP(MICROS,
    isAdjustedToUTC=false) as timestamp_ntz. The one policy for the batch
    table and the event stream (watermarks also need this type)."""
    ts_type = events.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer `div` (not `/`): float division of epoch-nanos loses µs
        return events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if not isinstance(ts_type, T.TimestampType):
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_events_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view named like the DuckDB oracle's
    views, so the same SQL text can run on both engines."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
