"""SparkSession factory and per-session tuning.

Scale posture: these configs are chosen for correctness parity with the
DuckDB oracle (UTC timestamps) and for 100 TB efficiency (AQE for runtime
re-planning + skew handling, partial aggregation pushdown, broadcast
thresholds sized for the dimension tables). ``tune_session`` applies the
runtime-settable subset to an externally created session (the driver owns
the session in verify runs), so every query behaves identically however
the session was built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to any session before running queries.
_RUNTIME_CONFS: dict[str, str] = {
    # Oracle parity: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part) stay well
    # under this even at sf100; lineitem/orders never broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas-UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r10 (guide §3.1/§9): let the planner pick shuffled-hash over
    # sort-merge when its size conditions hold — removes the two sorts
    # around every moderate equi-join (q5's supplier-side SMJ, the
    # semdedup routing joins). Scale posture: build sides here are
    # per-partition slices bounded by the shuffle partition count, AQE
    # skew-split still applies, and every corpus-sized join the sf30
    # probe flagged carries an explicit shuffle_hash/broadcast decision
    # already; this conf only affects the residual planner-chosen tier.
    "spark.sql.join.preferSortMergeJoin": "false",
    # r10: the watermark-flush streaming queries process all landing
    # files in one micro-batch and rely on the engine's no-data batch
    # for the final watermark-driven emission (watermark_flush.py).
    # True is the engine default since 3.0 — pinned so a host session
    # that disabled it cannot silently turn those queries' results
    # empty.
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    # Tolerate a TIMESTAMP(NANOS) events.parquet (some writer versions emit
    # it; Spark's reader rejects it otherwise): surface nanos as epoch-long,
    # normalized to µs by sources.catalog.normalize_events_ts.
    # Current testdata writes TIMESTAMP(µs) — this is drift insurance.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    # Local mode: shuffle partitions ~ cores. On a real cluster AQE
    # coalesces down from a higher initial number; 2x cores is a safe
    # initial that AQE can only improve.
    spark.conf.set("spark.sql.shuffle.partitions", str(2 * default_parallelism()))
    return spark


def get_spark(app_name: str = "distributed_map_reduce_spark") -> SparkSession:
    """Build a local session (tests / bench). The driver builds its own
    session for verify; ``tune_session`` covers that path."""
    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Keep maxResultSize consistent with the 64 MB broadcast
        # threshold (r9, caught by the sf30 probe): AQE sizes broadcast
        # candidates by COMPRESSED shuffle bytes, so a side under the
        # 64 MB threshold can deserialize past the stock 1 GB
        # maxResultSize when the driver collects it to build the
        # broadcast relation (observed: the MinHash verify pipeline's
        # intermediate at sf30 — 1033 MiB from 32 tasks). 4 GB covers
        # the worst expansion a 64 MB-compressed side can reach; bigger
        # sides exceed the threshold and AQE picks a shuffle join, so
        # the exposure window is bounded. maxResultSize is a driver
        # conf — builder-time only, which is why it is not in
        # _RUNTIME_CONFS.
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .getOrCreate()
    )
    # Builder configs are silently ignored when getOrCreate returns a
    # PRE-EXISTING session (e.g. a test fixture built one first), and
    # maxResultSize is builder-time-only so it cannot be reconciled like
    # _RUNTIME_CONFS — make the mismatch loud instead of letting the
    # sf30 broadcast-collect failure reappear unexplained (ADVICE r9).
    got = spark.conf.get("spark.driver.maxResultSize", "1g")
    if got != "4g":
        import warnings

        warnings.warn(
            f"pre-existing SparkSession has spark.driver.maxResultSize={got} "
            "(wanted 4g); large broadcast collects (sf30-class) may fail — "
            "stop the stale session or set the conf at its builder",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
