"""One measurement runner: time registered queries at any fixture dir.

Every query is forced the same way, through ``bench.digest`` — count +
bit_xor(xxhash64(struct(every output column))) — so no column can be
pruned and nothing data-sized crosses to Python (collecting a 15M-row
result times the Arrow fetch, not the plan). The digest doubles as
result evidence: same fixture + same digest = same rows. Splitting a
query into construct / execute / fetch phases is ``perfbench/run.py
--trace 1``'s job, not this tool's.

Each query runs once, untimed, on the ``sf0.001`` fixture next to
--sf-dir when there is one (JVM/codegen warm-up). Each timed run follows
a GC breather; with ``--passes N`` the passes interleave and the
per-query minimum is kept (bench.py's discipline against stall bursts).

Usage:
  python tools/measure.py --sf-dir DIR [name ...]    # default: whole registry
  python tools/measure.py --sf-dir DIR --bench --passes 3 --out BENCH_sfN.json
  python tools/measure.py --sf-dir DIR --bench --isolate    # fresh JVM per query
  python tools/measure.py --sf-dir DIR --ledger sweep.jsonl # resumable sweep
  python tools/measure.py --sf-dir DIR --bench --explain plans/rNN --suffix before

Prints one JSON record per query on stdout: {"name", "rows", "digest",
"wall_s"}, or {"name", "error", "wall_s"}. Exits 1 if any query failed.
With --explain it times nothing: it writes each query's formatted plan
to DIR/<name>_<suffix>.txt ("EXPLAIN FAILED: ..." when the build raises)
and exits 1 if any plan failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import digest  # noqa: E402
from distributed_map_reduce_spark import registry  # noqa: E402
from distributed_map_reduce_spark.session import get_spark  # noqa: E402


def measure(names: list[str], sf_dir: str, passes: int):
    """Yield one record per query, each as soon as its last pass ends."""
    spark = get_spark("measure")
    qs = registry.all_queries()
    warm_dir = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.001")
    if os.path.isdir(warm_dir):
        for name in names:
            try:
                digest(qs[name].fn(spark, warm_dir))
            except Exception as e:  # warm-up is best-effort
                print(f"# warmup {name} failed: {e}", file=sys.stderr)
    recs = {name: {"name": name} for name in names}
    for p in range(passes):
        for name in names:
            rec = recs[name]
            if "error" not in rec:
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                try:
                    rec["rows"], rec["digest"] = digest(qs[name].fn(spark, sf_dir))
                except Exception as e:  # record and continue
                    rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                wall = round(time.perf_counter() - t0, 3)
                rec["wall_s"] = min(wall, rec.get("wall_s", wall))
            if p == passes - 1:
                yield rec


def isolated(names: list[str], sf_dir: str, passes: int):
    """Yield one record per query, each measured by a fresh process."""
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), name,
               "--sf-dir", sf_dir, "--passes", str(passes)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        try:
            yield json.loads(out.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError):
            yield {"name": name, "error": f"child exited {out.returncode}"}


def explain(names: list[str], sf_dir: str, out_dir: str, suffix: str) -> bool:
    """Write each query's formatted plan to OUT_DIR/<name>_<suffix>.txt;
    return whether every plan was written."""
    spark = get_spark("measure")
    qs = registry.all_queries()
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for name in names:
        try:
            df = qs[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:
            plan, ok = f"EXPLAIN FAILED: {e}", False
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
    return ok


def _ledger_names(path: str) -> set[str]:
    """Names already recorded; a line cut short by a crash is ignored."""
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        return {json.loads(ln)["name"] for ln in f if ln.rstrip().endswith("}")}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="*", help="default: --bench set or whole registry")
    ap.add_argument("--bench", action="store_true", help="the bench.py headliners")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--isolate", action="store_true", help="one fresh JVM per query")
    ap.add_argument("--ledger", help="resumable JSONL: skip names already in it")
    ap.add_argument("--out", help="write a BENCH_sfN-shaped JSON summary")
    ap.add_argument("--explain", metavar="DIR", help="dump plans instead of timing")
    ap.add_argument("--suffix", choices=("before", "after"))
    args = ap.parse_args(argv)

    # Python workers import the package too, whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")])
    )
    qs = registry.all_queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = args.names or sorted(registry.bench_queries() if args.bench else qs)
    if args.explain:
        if not args.suffix:
            ap.error("--explain needs --suffix before|after")
        return 0 if explain(names, args.sf_dir, args.explain, args.suffix) else 1

    done = _ledger_names(args.ledger) if args.ledger else ()
    todo = [n for n in names if n not in done]
    print(f"# {len(names) - len(todo)} done, {len(todo)} to go", file=sys.stderr)
    if not todo:
        return 0

    run = isolated if args.isolate else measure
    recs = []
    for rec in run(todo, args.sf_dir, args.passes):
        recs.append(rec)
        print(json.dumps(rec), flush=True)
        if args.ledger:
            with open(args.ledger, "a") as f:
                f.write(json.dumps(rec) + "\n")

    if args.out:
        ok = [r for r in recs if "error" not in r]
        sf = os.path.basename(os.path.normpath(args.sf_dir)).rsplit("sf", 1)[-1]
        with open(args.out, "w") as f:
            json.dump({
                "metric": "headline_queries_total_wall",
                "value": round(sum(r["wall_s"] for r in ok), 3), "unit": "sec",
                "queries": {r["name"]: r["wall_s"] for r in ok},
                "rows": {r["name"]: r["rows"] for r in ok},
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "passes": args.passes,
            }, f, indent=1)
            f.write("\n")
    return 1 if any("error" in r for r in recs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
