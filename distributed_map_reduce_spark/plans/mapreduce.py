"""The reference's MapReduce contract, re-expressed as Spark dataflow.

Reference semantics (SURVEY.md §2.1 D1-D9, §3.1; contract visible at
`/root/reference/distribution/all/mr.js:6-32` and
`/root/reference/distribution/local/mapperReducer.js:9-146`):

- ``exec({keys, map, reduce})`` runs map → combine → shuffle → reduce →
  gather over a keyed dataset.
- ``map(key, value)`` returns either one ``{k: v}`` dict or a list of
  them (the reference dispatches on dataset name,
  `mapperReducer.js:21-33`; we normalize to flatMap semantics — a dict is
  a 1-element list, SURVEY.md §4.2 item 2).
- map only sees keys present in the local shard (locality — Spark task
  locality subsumes this; the optional ``keys`` list is honored as a
  broadcast semi-filter).
- shuffle hash-partitions map output by key
  (`mapperReducer.js:70-106`); Spark's exchange replaces per-key HTTP
  PUTs with batched, compressed, spillable shuffle blocks.
- ``reduce(key, values)`` sees the complete value list for its key and
  returns one result; gather concatenates per-partition results into an
  unordered bag (`all/mr.js:20-26`).

Why RDD here and nowhere else: the contract is *arbitrary Python
closures over schema-less values* — the one genuinely per-record
imperative surface in the engine (SURVEY.md §7.0). Everything
declarative (the whole relational/extension surface) goes through
DataFrames so Catalyst can optimize; this module is the compatibility
path for user map/reduce code, and Spark ships the closures with
cloudpickle exactly where the reference shipped function source text
(`serialization.js:294-308`).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..functions.hashing import md5_int_py


MapFn = Callable[[Any, Any], Any]  # (key, value) -> {k: v} | [{k: v}]
ReduceFn = Callable[[Any, list], Any]  # (key, values) -> result


def _normalize_map_output(out: Any) -> list[tuple[Any, Any]]:
    """Normalize the reference's dual map contract (dict | list-of-dicts,
    `mapperReducer.js:21-33`) to a flat pair list."""
    if out is None:
        return []
    dicts = [out] if isinstance(out, dict) else list(out)
    pairs: list[tuple[Any, Any]] = []
    for d in dicts:
        pairs.extend(d.items())
    return pairs


def consistent_hash_partitioner(num_partitions: int) -> Callable[[Any], int]:
    """Key→partition via the reference's consistent-hash ring
    (`mapperReducer.js:77-87`: owner = consistentHash(getID(k), nids)) —
    partitions stand in for nodes, positioned by the same portable md5
    ints as plans/placement.py, so the RDD shuffle routes each key to
    exactly the partition the column-expression placement names."""
    ring = sorted((md5_int_py(f"part-{p}"), p) for p in range(num_partitions))

    def owner(key: Any) -> int:
        kpos = md5_int_py(str(key))
        for pos, p in ring:
            if kpos <= pos:
                return p
        return ring[0][1]

    return owner


def exec_mr_rdd(
    pairs: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    keys: Iterable[str] | None = None,
    num_partitions: int | None = None,
    placement: str = "naive",
):
    """Run one MapReduce job; returns the reduced RDD (still distributed —
    one element per key, partitioned by the shuffle).

    ``placement`` selects the shuffle's key→partition routing: "naive"
    (Spark's portable_hash — results-identical, fastest) or "consistent"
    (the reference's ring placement, `mapperReducer.js:77-87`) for
    byte-level fidelity of *where* each key group lands. The result bag
    is placement-independent; only data movement differs."""
    sc = pairs.sparkSession.sparkContext
    rdd = pairs.rdd.map(lambda r: (r[0], r[1]))
    if keys is not None:
        # Reference: the key list is broadcast and non-local keys skipped
        # (`mapperReducer.js:14-17`); here it's a broadcast semi-filter.
        bkeys = sc.broadcast(frozenset(keys))
        rdd = rdd.filter(lambda kv: kv[0] in bkeys.value)
    n = num_partitions or int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part_fn = {"naive": None, "consistent": consistent_hash_partitioner(n)}[placement]
    kwargs = {"numPartitions": n}
    if part_fn is not None:
        kwargs["partitionFunc"] = part_fn
    return (
        rdd.flatMap(lambda kv: _normalize_map_output(map_fn(kv[0], kv[1])))
        # combineByKey builds per-partition value lists (the reference's
        # map-side `compact`, `mapperReducer.js:39-68`) and merges lists
        # across the exchange (`shuffledSave`, `mapperReducer.js:108-121`).
        # Accumulators mutate IN PLACE (append/extend): Spark never reuses
        # a combiner after handing it to the merge fn, and the copying
        # form `acc + [v]` is O(len) per element — quadratic on heavy
        # keys (a 500k-occurrence stopword cost ~400s at sf1; in-place
        # append is the documented combineByKey idiom for exactly this).
        .combineByKey(
            lambda v: [v],
            lambda acc, v: (acc.append(v), acc)[1],
            lambda a, b: (a.extend(b), a)[1],
            **kwargs,
        )
        .map(lambda kv: reduce_fn(kv[0], kv[1]))
    )


def exec_mr(
    pairs: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    keys: Iterable[str] | None = None,
    num_partitions: int | None = None,
) -> list[Any]:
    """exec_mr_rdd + gather: returns the unordered result bag on the driver
    (the reference's ``exec`` callback payload, `all/mr.js:20-26`).

    Reserve for fixture-scale parity queries — the gather is the
    reference's own semantics, but at data scale use :func:`exec_mr_df`
    which never materializes on the driver.
    """
    return exec_mr_rdd(pairs, map_fn, reduce_fn, keys=keys, num_partitions=num_partitions).collect()


def exec_mr_df(
    spark: SparkSession,
    pairs: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    schema: str,
    keys: Iterable[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """exec_mr, but the reduce output rows come back as a typed DataFrame
    (reduce_fn must return a tuple matching ``schema``).

    The reduced RDD converts to a DataFrame directly — no ``collect()`` /
    driver round-trip — so a vocabulary-sized result bag (e.g. word counts
    over the full ``documents`` table) stays on the executors. At 100 TB
    the reference's collect-gather would OOM the coordinator; here gather
    only happens if the *caller* collects."""
    rdd = exec_mr_rdd(pairs, map_fn, reduce_fn, keys=keys, num_partitions=num_partitions)
    return spark.createDataFrame(rdd, schema=schema)


def local_exec_mr(
    pairs: Iterable[tuple[Any, Any]], map_fn: MapFn, reduce_fn: ReduceFn
) -> list[Any]:
    """Single-process reference executor — the differential oracle the
    reference calls ``sanityCheck`` (`/root/reference/test/mr.test.js:78-96`).
    Used by tests to check distributed results against local semantics."""
    grouped: dict[Any, list] = {}
    for k, v in pairs:
        for ok, ov in _normalize_map_output(map_fn(k, v)):
            grouped.setdefault(ok, []).append(ov)
    return [reduce_fn(k, vs) for k, vs in grouped.items()]
