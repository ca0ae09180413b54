"""The benchmark's workloads: each is a fixed list of registry queries run
in a closed loop over the inputs of `inputs.py` (scale factor 0.1).

`tables` lists every table the workload's queries read; the traced run
times one `sources.catalog.load_table` call for each of them.
"""

from __future__ import annotations

from typing import NamedTuple


class Workload(NamedTuple):
    queries: tuple[str, ...]
    tables: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    # The LLM-data tier at bench scale: eager localCheckpoint/probe jobs
    # during construction and driver round-trips bound the run, so
    # eager-work removal and bound-pruned top-k show here.
    "llm_curation": Workload(
        queries=(
            "dedup_minhash_clusters",
            "similarity_knn_join",
            "ann_bruteforce_topk",
            "dedup_exact",
            "text_wordcount_topn",
        ),
        tables=("documents", "embeddings"),
    ),
    # The reference's MapReduce/KV surface, writes beside reads: many
    # short operations expose the per-query floor (session tuning, table
    # loading) and the Python boundary of the RDD closures; construction
    # is small, so eager-work removal predicts no change here.
    "mr_kv_rw": Workload(
        queries=(
            "mr_wordcount_documents",
            "mr_reduce_side_join",
            "mr_secondary_sort",
            "mr_grep_pattern",
            "kv_lww_upsert",
            "kv_content_addressed",
            "kv_del_antijoin",
            "kv_cas_conditional_update",
            "kv_point_get",
            "kv_prefix_scan",
            "kv_snapshot_read_asof",
            "sink_parquet_roundtrip",
            "layout_compaction_bins",
        ),
        tables=("customer", "documents", "events", "lineitem", "orders"),
    ),
    # The micro-batch engine and its state store, which no batch workload
    # reaches: a watermark-flush session window and a CDC apply, each
    # bound by the per-batch trigger floor.
    "stream_flush": Workload(
        queries=(
            "stream_session_flush_final",
            "stream_cdc_apply_changes",
        ),
        tables=("events",),
    ),
}
