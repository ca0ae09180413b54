"""Runtime function registration — the Spark analog of the reference's
dynamic service installation (`routes.put`,
`/root/reference/distribution/local/routes.js:63-89`) and RPC stub
shipping (`wire.createRPC`, `util/wire.js:26-32`): a user-defined
function registered at runtime becomes callable from any SQL text, and
cloudpickle ships the closure to executors exactly where the reference
shipped function source text (`util/serialization.js:294-308`).

Two tiers, per the UDF playbook:
- ``register_pandas_udfs`` — Arrow-batched pandas UDFs (the only
  acceptable Python hot path, ~10-100x over row-at-a-time);
- the oracle-checked query uses the pandas tier and keeps everything
  else JVM-side.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .measures import to_cents_sql
from ..registry import register
from ..sources import register_views


def _disc_price(extended: pd.Series, discount: pd.Series) -> pd.Series:
    """Vectorized charge computation — one Arrow batch per invocation."""
    return extended * (1.0 - discount)


def _priority_bucket(priority: pd.Series) -> pd.Series:
    """String-munging UDF: '1-URGENT' → 'P1'."""
    return "P" + priority.str.split("-").str[0]


def register_pandas_udfs(spark: SparkSession) -> None:
    """Install the UDFs into the session's function registry (idempotent)
    — after this any spark.sql text can call them by name. UDF objects
    are built here, not at import: pandas_udf parses its DDL return type
    against the active session."""
    spark.udf.register("disc_price", pandas_udf(_disc_price, "double"))
    spark.udf.register("priority_bucket", pandas_udf(_priority_bucket, "string"))


@register(
    "udf_runtime_registered",
    tags=("udf", "parity"),
    oracle=f"""
SELECT substr(o_orderpriority, 1, 1) AS bucket_digit,
       'P' || substr(o_orderpriority, 1, 1) AS bucket,
       count(*) AS n,
       sum({to_cents_sql("o_totalprice * (1 - 0.05)")}) / 100.0
         AS discounted_total
FROM orders
GROUP BY 1, 2
""",
)
def udf_runtime_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register pandas UDFs at runtime, then call them from SQL text —
    the reference's routes.put + createRPC flow, Spark-native. The
    oracle replays the UDF bodies as plain SQL expressions.

    The per-row UDF value is rounded to integer cents BEFORE the sum
    (identical per-row doubles on both engines -> identical cents; the
    fourth-scale gate caught round(sum(double), 2) diverging at sf1
    accumulation drift); one shared division renders dollars."""
    register_pandas_udfs(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT substr(o_orderpriority, 1, 1) AS bucket_digit,
               priority_bucket(o_orderpriority) AS bucket,
               count(*) AS n,
               sum({to_cents_sql("disc_price(o_totalprice, 0.05D)")})
                 / 100.0D AS discounted_total
        FROM orders
        GROUP BY 1, 2
        """
    )


def _entropy_one(s: str) -> float:
    """Byte entropy of one string — the scalar kernel for the Arrow UDF."""
    import numpy as np

    if not s:
        return 0.0
    arr = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8)
    _, counts = np.unique(arr, return_counts=True)
    p = counts / counts.sum()
    return float(round(-(p * np.log2(p)).sum(), 6))


def _char_entropy(text: pd.Series) -> pd.Series:
    return text.map(_entropy_one)


@register(
    "udf_arrow_optimized",
    tags=("udf",),
    doc="Arrow-serialized scalar UDF (useArrow=True) computing per-doc "
    "byte entropy; rows-only (entropy has no tractable SQL oracle, "
    "accuracy pinned in tests/test_spark4_surfaces.py).",
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's Arrow-optimized Python UDF (`useArrow=True`): scalar
    Python UDF semantics with Arrow batch transfer instead of pickled
    rows — the migration path for row-UDF code that can't vectorize to
    pandas_udf wholesale. Still Python (keep it OFF fact-table hot
    paths); registered to prove the surface and its batch plumbing."""
    from ..sources import load_table

    ent = F.udf(_entropy_one, "double", useArrow=True)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", ent(F.col("text")).alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("h"), 4).alias("avg_entropy"),
        )
    )
