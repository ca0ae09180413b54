"""Named-query registry: the single source of truth consumed by
``__spark_entry__.py`` (driver contract) and ``bench.py``.

Each Query pairs a Spark DataFrame builder with the ANSI-SQL oracle DuckDB
runs on the same parquet views. Column names are aliased identically on
both sides — the driver's compare sorts columns by name before value-
hashing. Queries without an expressible SQL oracle (custom stateful
streaming, iterative algorithms) carry ``oracle=None`` and get the
driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .session import tune_session


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py's headline set
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    doc: str = "",
):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        docline = doc or ((fn.__doc__ or "").strip().splitlines() or [""])[0]
        _REGISTRY[name] = Query(
            name=name, fn=wrapped, oracle=oracle, tags=tags, bench=bench, doc=docline,
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from .operators import (  # noqa: F401
        relational,
        joins,
        windows,
        setops,
        dedup,
        similarity,
        text,
        multimodal,
        temporal,
        tpch,
        tpch_suite,
        tpch_partsupp,
        stats,
        arrays_maps,
        skew,
        sampling,
        sketches,
        pipeline,
        graph,
        privacy,
        profiling,
        semistructured,
        urlops,
    )
    from .functions import grouped, udfs  # noqa: F401
    from .plans import kv_queries, mr_queries  # noqa: F401
    from .sources import bucketing, pydatasource, sinks  # noqa: F401
    from .streaming import batch_windows, stateful, watermark_flush  # noqa: F401


# The driver's CORRECTNESS gate oracle-checks only the FIRST 50 queries in
# registration order, so this window pins which 50 get the hard signal,
# independent of module import order. all_queries() puts the window first
# and every other query after it in registration order. Fill the window
# with oracle-bearing queries that have no CORRECTNESS row yet, plus re-rows
# for queries whose output changed; tools/verification_debt.py computes
# the backlog from the CORRECTNESS_r*.json ledgers and checks the window.
_DRIVER_WINDOW: tuple[str, ...] = (
    # --- stream: drained to zero ---
    "stream_chained_time_windows",
    "stream_interval_full_join_flush",
    "stream_segment_enrichment_final",
    "stream_session_dynamic_gap_flush",
    "stream_trigger_available_now",
    # --- text: drained to zero ---
    "text_bigram_perplexity",
    "text_boilerplate_ngrams",
    "text_bpe_pair_stats",
    "text_concordance_kwic",
    "text_suffix_prefix_stitch",
    # --- sql: drained to zero ---
    "sql_identifier_dynamic",
    "sql_interface_verbatim",
    "sql_scripting_compound",
    "sql_udf_declared",
    # --- window: drained to zero ---
    "window_hampel_filter",
    "window_local_maxima",
    "window_pattern_regex_funnel",
    "window_rolling_regression",
    # --- multimodal: drained to zero ---
    "multimodal_arrow_batch_stats",
    "multimodal_audio_framing",
    "multimodal_interleaved_assembly",
    "multimodal_patch_budget",
    # --- sample: drained to zero ---
    "sample_hoeffding_certificate",
    "sample_importance_reweight",
    "sample_variance_quota",
    "sample_weighted_priority",
    # --- profile: drained to zero ---
    "profile_clock_skew_audit",
    "profile_freshness_audit",
    "profile_join_fanout",
    "profile_observed_metrics",
    # --- kv: drained to zero ---
    "kv_prefix_scan",
    "kv_secondary_index",
    "kv_snapshot_read_asof",
    "kv_ttl_expiry",
    # --- source: drained to zero ---
    "source_fixedwidth_parse",
    "source_orc_roundtrip",
    "source_text_roundtrip",
    "source_xml_roundtrip",
    # --- scalar: drained to zero ---
    "scalar_bitwise_funcs",
    "scalar_collation_compare",
    "scalar_url_funcs",
    # --- mr: drained to zero ---
    "mr_grep_pattern",
    "mr_reduce_side_join",
    "mr_secondary_sort",
    # --- layout: drained to zero ---
    "layout_clustering_depth",
    "layout_compaction_bins",
    "layout_zonemap_skipping",
    # --- udtf: drained to zero ---
    "udtf_dynamic_schema",
    "udtf_table_argument",
    # --- singletons ---
    "string_distance",
)

def all_queries() -> dict[str, Query]:
    _load_all()
    ordered = {n: _REGISTRY[n] for n in _DRIVER_WINDOW if n in _REGISTRY}
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in all_queries().values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries().values() if q.oracle is not None}


def bench_queries() -> dict[str, Query]:
    return {q.name: q for q in all_queries().values() if q.bench}
