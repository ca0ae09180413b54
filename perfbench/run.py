"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Prepares the inputs (generated on first use, checked against committed
hashes, outside set-up time), starts the closed-loop client
(`client.py`) in its own process session with the environment sized to
this machine, stops every process of that session, and prints a summary
followed by one JSON line: `correct`, `attempted`, `failed` and the
metrics BENCHMARK.json names - its `end_to_end` list with `--trace 0`,
its `per_layer` list with `--trace 1`.

Reports (trace spans, plan stability, the client's log) go to
`perfbench/.out/`; Spark scratch space, temp files and streaming
checkpoints to `perfbench/.work/`.

`--record` runs every workload's queries with three seeds and rewrites
`expected.json`; run it only at a commit whose outputs are trusted.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
DEADLINE_S = 170.0
# Fits a 15 GB machine shared with other jobs (the session default is 16g).
DRIVER_MEM = "3g"
# JVM settings that steady run-to-run timing without changing what runs:
# a heap and young generation of fixed size (G1 otherwise resizes them
# differently in every run) and JIT thresholds at a fifth of the default,
# so the warm-up pass leaves less compilation to the measured ones.
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn1g -XX:CompileThresholdScaling=0.2"


def client_env() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}"
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        # Python workers import the package from the checkout.
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=tmp,
        # No console progress bar: its thread redraws every 200 ms.
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(java_opts)} "
                            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )


def _session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is `sid`."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, _pgrp, session = stat[stat.rindex(")") + 2:].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(pid))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """End every process of the client's session (the JVM and its Python
    workers outlive the client briefly) and wait until all have ended."""
    start = time.time()
    while members := _session_members(proc.pid):
        if time.time() - start > 3:  # past a normal shutdown
            for pid in members:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if time.time() - start > 30:
            raise RuntimeError(f"processes {members} did not end")
        proc.poll()
        time.sleep(0.05)
    proc.wait()


def run_client(args, data_dir: str, t_run: float, record: bool = False) -> dict:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    result_path = os.path.join(WORK, "result.json")
    log_path = os.path.join(OUT, f"client-{args.workload}.log")
    cmd = [sys.executable, os.path.join(HERE, "client.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--result", result_path] + (["--record"] if record else [])
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=WORK, env=client_env(), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_run)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_session(proc)
    if proc.returncode != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"client exited with {proc.returncode}; see {log_path}")
    with open(result_path) as f:
        result = json.load(f)
    result["setup_s"] = result["ready_wall"] - t_spawn
    return result


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(result: dict) -> dict[str, float]:
    passes = [p for p in result["passes"] if not p["traced"]]
    lat = [q["lat_s"] for p in passes for q in p["queries"] if q["ok"]]
    return {
        "setup_s": result["setup_s"],
        "pass_s": _median([p["wall_s"] for p in passes]),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
        "jvm_heap_live_mb": result["heap_live_mb"],
        "jvm_rss_peak_mb": result["rss_peak_mb"],
    }


def _span_dur(span: dict) -> float:
    return span["end"] - span["start"]


def per_layer(result: dict) -> tuple[dict[str, float], dict]:
    """Per-layer metrics: sums over the queries of a traced pass, median
    over traced passes; plus the plan-stability report."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    per_pass: list[Counter] = []
    shapes: dict[str, list] = {}
    for p in traced:
        c: Counter = Counter()
        for q in p["queries"]:
            if "span" not in q:
                continue
            construct, execute, fetch = q["span"]["children"]
            both = Counter(construct["counters"])
            both.update(execute["counters"])
            c["construct.s"] += _span_dur(construct)
            c["construct.jobs"] += construct["counters"]["jobs"]
            c["construct.stages"] += construct["counters"]["stages"]
            c["exec.s"] += _span_dur(execute)
            c["exec.jobs"] += execute["counters"]["jobs"]
            c["exec.stages"] += execute["counters"]["stages"]
            c["fetch.s"] += _span_dur(fetch)
            c["fetch.rows"] += fetch["rows"]
            for k in ("tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms"):
                c[f"exec.{k}"] += both[k]
            c["exec.noncpu_ms"] += both["run_ms"] - both["cpu_ms"]
            for k in ("input_rows", "input_bytes"):
                c[f"sources.{k}"] += both[k]
            c["shuffle.write_bytes"] += both["shuffle_write_bytes"]
            c["shuffle.read_bytes"] += both["shuffle_read_bytes"]
            c["shuffle.fetch_wait_ms"] += both["shuffle_fetch_wait_ms"]
            c["shuffle.spill_bytes"] += both["spill_bytes"]
            for k, v in both.items():
                if k.startswith(("python.", "stream.")):
                    c[k] += v
            shapes.setdefault(q["name"], []).append(
                [both["jobs"], both["stages"], both["shuffle_write_bytes"]])
        c["exec.util"] = c["exec.run_ms"] / (p["wall_s"] * 1000.0 * result["cores"])
        per_pass.append(c)
    keys = sorted(set().union(*per_pass)) if per_pass else []
    out = {k: _median([c[k] for c in per_pass]) for k in keys}
    floor = [p["floor"] for p in traced]
    unstable = {n: s for n, s in shapes.items() if any(x != s[0] for x in s[1:])}
    out.update({
        "session.tune_ms": 1000 * _median([t for f in floor for t in f["tune_s"]]),
        "sources.load_table_ms": 1000 * _median([t for f in floor for t in f["load_table_s"]]),
        "driver.cpu_s": _median([p["cpu_s"] for p in plain]),
        "setup.registry_s": result["setup"]["registry_s"],
        "setup.session_s": result["setup"]["session_s"],
        "setup.warmup_s": result["setup"]["warmup_s"],
        "jvm_rss_peak_mb": result["rss_peak_mb"],
        "jvm_heap_live_mb": result["heap_live_mb"],
        "trace.overhead_s": _median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in plain]),
        "plan.unstable_queries": len(unstable),
    })
    report = {"per_query_jobs_stages_shuffle_write_bytes": shapes, "unstable": sorted(unstable)}
    return out, report


def record(args, data_dir: str) -> None:
    """Observe every workload's outputs under three seeds; a query whose
    digest differs between them is checked on its row count only."""
    from workloads import WORKLOADS

    expected: dict[str, dict] = {}
    for workload in sorted(WORKLOADS):
        for seed in (1, 2, 3):
            args.workload, args.seed = workload, seed
            observed = run_client(args, data_dir, time.time(), record=True)["observed"]
            for name, got in observed.items():
                want = expected.setdefault(name, got)
                if got["rows"] != want["rows"]:
                    raise RuntimeError(f"{name}: row count differs between runs: {got} {want}")
                if got["digest"] != want["digest"]:
                    want["digest"] = None
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> None:
    t_run = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="rewrite expected.json")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "distributed_map_reduce_spark", "registry.py")):
        sys.exit(f"no distributed_map_reduce_spark package under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from inputs import prepare
    from workloads import WORKLOADS

    data_dir = prepare()
    if args.record:
        return record(args, data_dir)
    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    result = run_client(args, data_dir, t_run)
    name = f"{args.workload}-seed{args.seed}"
    attempted, failed = result["attempted"], len(result["failures"])
    for line in result["failures"]:
        print(f"# FAILED {line}")
    n_lat = sum(len(p["queries"]) for p in result["passes"] if not p["traced"])
    print(f"# {args.workload}: {len(result['passes'])} passes in {result['measure_s']:.1f} s, "
          f"{n_lat} timed executions, fail_ratio {failed}/{attempted} = {failed / attempted:g}")
    if args.trace:
        values, report = per_layer(result)
        spans = [q["span"] for p in result["passes"] for q in p["queries"] if "span" in q]
        with open(os.path.join(OUT, f"trace-{name}.json"), "w") as f:
            json.dump(spans, f)
        with open(os.path.join(OUT, f"report-{name}.json"), "w") as f:
            json.dump({"per_layer": values, "plan_stability": report}, f, indent=1)
        if report["unstable"]:
            print(f"# plan counts differ between passes (exclude from count claims): "
                  f"{', '.join(report['unstable'])}")
        wanted = spec["per_layer"]
    else:
        values = end_to_end(result)
        wanted = spec["end_to_end"]
    for k in sorted(values):
        print(f"# {k} = {values[k]:.6g}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
