"""Custom stateful streaming operator via ``applyInPandasWithState``:
per-user running totals maintained in explicit state across micro-batches.

This is the Spark-native form of a custom stateful operator (the one
category SURVEY.md §7.4 lists beyond built-in windowed aggs). The
registered query drives the bounded file stream to completion and
returns final state — which makes it oracle-checkable: final per-user
totals must equal the plain batch group-by.

Scale posture: state lives in the state store keyed by user_id (RocksDB
in production), one state row per key; timeouts would evict idle users
in an unbounded deployment.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import register
from .jobs import read_events_stream, run_to_completion

STATE_SCHEMA = "n bigint, total double"
OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _update_user_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State update: fold each micro-batch's rows for this user into
    (count, sum) state; emit the updated running total."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """The stateful operator: groupBy(user).applyInPandasWithState."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "stream_stateful_user_totals",
    tags=("streaming", "stateful"),
    oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the stateful stream over the bounded events file source to
    completion; final emitted state per user must equal the batch
    group-by (the oracle). Update-mode emits one row per (user, batch) —
    keep the last emission per user."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    with read_events_stream(spark, sf_dir) as stream:
        out = run_to_completion(
            spark, user_running_totals(stream), "stateful_user_totals", mode="update"
        )
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
