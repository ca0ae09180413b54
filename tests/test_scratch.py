"""One scratch root per process (sources/scratch.py): every scratch dir is
fresh and sits under one ``dmrs_`` root, the root is gone once its
process exits, and staged queries leave no other ``dmrs_`` entry in the
temp dir."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from distributed_map_reduce_spark.registry import all_queries
from distributed_map_reduce_spark.sources.scratch import scratch_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STAGED = (
    "source_binaryfile_manifest",
    "join_dynamic_partition_prune",
    "bucketed_join_colocated",
    "sink_python_datasource_writer",
    "sink_parquet_roundtrip",
)


def _dmrs_entries() -> set[str]:
    return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("dmrs_")}


def test_one_root_per_process_removed_at_exit(tmp_path):
    code = (
        "from distributed_map_reduce_spark.sources.scratch import scratch_dir\n"
        "print(scratch_dir('x'))\nprint(scratch_dir('x'))\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    a, b = out.stdout.split()
    assert a != b
    root = os.path.dirname(a)
    assert os.path.dirname(b) == root
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("dmrs_")
    assert os.listdir(tmp_path) == []


def test_staged_queries_leave_only_the_root(spark, sf_dir):
    before = _dmrs_entries()
    qs = all_queries()
    for name in STAGED:
        assert qs[name].fn(spark, sf_dir).count() > 0, name
    root = os.path.basename(os.path.dirname(scratch_dir("probe")))
    assert _dmrs_entries() - before <= {root}

