"""tools/measure.py: its records carry bench.py's digest, its ledger makes a
sweep resumable, an unknown query name is an error, and --explain writes
formatted plans and fails when a build raises."""

from __future__ import annotations

import dataclasses
import importlib.util
import json
import os

import pytest

from bench import digest
from distributed_map_reduce_spark import registry
from distributed_map_reduce_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ["q1_pricing_summary", "dedup_exact"]


def _load_measure():
    spec = importlib.util.spec_from_file_location(
        "measure", os.path.join(REPO, "tools", "measure.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ledger_digest_resume_and_unknown(spark, sf_dir, tmp_path, monkeypatch):
    measure = _load_measure()
    ledger = tmp_path / "ledger.jsonl"
    argv = [*NAMES, "--sf-dir", sf_dir, "--ledger", str(ledger)]
    assert measure.main(argv) == 0

    recs = [json.loads(line) for line in ledger.read_text().splitlines()]
    assert [r["name"] for r in recs] == NAMES
    qs = all_queries()
    for r in recs:
        rows, dig = digest(qs[r["name"]].fn(spark, sf_dir))
        assert (r["rows"], r["digest"]) == (rows, dig)
        assert r["wall_s"] > 0

    def boom(df):
        raise AssertionError("a name already in the ledger was run again")

    monkeypatch.setattr(measure, "digest", boom)
    assert measure.main(argv) == 0
    assert len(ledger.read_text().splitlines()) == len(NAMES)

    with pytest.raises(SystemExit) as exc:
        measure.main(["no_such_query", "--sf-dir", sf_dir])
    assert exc.value.code != 0

    plans = tmp_path / "plans"
    argv = [NAMES[0], "--sf-dir", sf_dir, "--explain", str(plans), "--suffix", "after"]
    assert measure.main(argv) == 0
    assert "== Physical Plan ==" in (plans / f"{NAMES[0]}_after.txt").read_text()

    def broken(spark, sf_dir):
        raise RuntimeError("build failed")

    q = qs[NAMES[1]]
    monkeypatch.setitem(registry._REGISTRY, q.name, dataclasses.replace(q, fn=broken))
    argv = [*NAMES, "--sf-dir", sf_dir, "--explain", str(plans), "--suffix", "before"]
    assert measure.main(argv) == 1
    assert (plans / f"{q.name}_before.txt").read_text().startswith("EXPLAIN FAILED")
