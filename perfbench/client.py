"""Closed-loop benchmark client, started by `run.py` in its own process.

One client, one driver thread: the workload's registry queries run one
after another in one long-lived Spark session. Each execution is timed
from outside the package as construct (`Query.fn` returns a DataFrame),
then the action (`collect`, or a one-row digest for data-sized results)
until it returns; the output check runs after the clock stops.

A pass runs every query of the workload once, in an order shuffled from
the run seed. After set-up (session built, registry imported, one
warm-up pass), passes repeat until `--seconds` is spent. With
`--trace 1` traced and untraced passes alternate; a traced pass puts
every phase in its own Spark job group and reads the jobs' stage
metrics from the status store, the Python-evaluation SQL metrics and
per-batch streaming progress.

The result is one JSON file (`--result`), which `run.py` reduces to
metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import re
import statistics
import sys
import time
import traceback
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

from py4j.protocol import Py4JJavaError

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import WORKLOADS  # noqa: E402

# Results with more rows than this are digested in Spark and fetched as
# one row (bench.py's DIGEST_FETCH convention): fetching them would time
# Python deserialization instead of the plan.
DIGEST_ROWS = 10_000


def _canon(v):
    if isinstance(v, float):
        # 9 significant digits: partial sums merged in varying order differ
        # in the last bits; -0.0 and 0.0 are one value
        return float(f"{v:.9g}") + 0.0 if math.isfinite(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return sorted((str(k), _canon(x)) for k, x in v.items())
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def rows_digest(rows) -> str:
    """Order-insensitive, multiplicity-sensitive digest of fetched rows."""
    total = 0
    for r in rows:
        h = hashlib.blake2b(json.dumps(_canon(r)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
    return f"{total:016x}"


def _size_bytes(text: str) -> float:
    """First size in a formatted SQL size metric ("total (...)\\n1.2 MiB (...)")."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    if not m:
        return 0.0
    scale = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
    return float(m.group(1).replace(",", "")) * scale[m.group(2)]


class Tracer:
    """Spark-side counters for one phase at a time, read from outside the
    package: the job group this benchmark sets, the status store's job and
    stage data, the SQL store's Python-evaluation metrics, and a streaming
    query listener. Spans stay in memory until the run ends."""

    PY_METRICS = {
        "data sent to Python workers": "python.bytes_sent",
        "data returned from Python workers": "python.bytes_received",
    }
    STREAM_KEYS = (
        "stream.batches", "stream.trigger_ms", "stream.add_batch_ms",
        "stream.query_planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
        "stream.state_rows", "stream.state_memory_bytes", "stream.state_commit_ms",
    )

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.progress: list = []
        self._seq = 0
        sink = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    def begin(self, name: str) -> dict:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name)
        del self.progress[:]
        return {"name": name, "group": group, "exec0": self._last_execution(),
                "start": time.time()}

    def end(self, span: dict) -> dict:
        span["end"] = time.time()
        self.bus.waitUntilEmpty(60_000)
        runs = {str(p.runId) for p in self.progress}
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(span["group"]))
        for run in runs:
            jobs.update(self.sc.statusTracker().getJobIdsForGroup(run))
        span["jobs"] = sorted(jobs)
        span["counters"] = c = self._job_counters(span)
        c.update(self._python_bytes(span.pop("exec0")))
        c.update(self._stream_counters())
        return span

    def _last_execution(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(n - 1, 1).apply(0).executionId()

    def _job_counters(self, span: dict) -> Counter:
        c: Counter = Counter()
        stages: set[int] = set()
        last_end = 0
        for jid in span["jobs"]:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
            done = self.store.job(jid).completionTime()
            if done.isDefined():
                last_end = max(last_end, done.get().getTime())
        span["last_job_end"] = last_end / 1000.0 if last_end else None
        c["jobs"] = len(span["jobs"])
        for sid in stages:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped before its first attempt
                continue
            if s.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numTasks()
            c["failed_tasks"] += s.numFailedTasks()
            c["run_ms"] += s.executorRunTime()
            c["cpu_ms"] += s.executorCpuTime() / 1e6
            c["gc_ms"] += s.jvmGcTime()
            c["input_rows"] += s.inputRecords()
            c["input_bytes"] += s.inputBytes()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_fetch_wait_ms"] += s.shuffleFetchWaitTime()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return c

    def _python_bytes(self, after: int) -> Counter:
        c = Counter(dict.fromkeys(self.PY_METRICS.values(), 0))
        n = self.sql.executionsCount()
        tail = self.sql.executionsList(max(0, n - 256), min(n, 256))
        for i in range(tail.size()):
            ex = tail.apply(i)
            if ex.executionId() <= after:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = self.PY_METRICS.get(m.name())
                v = values.get(m.accumulatorId()) if key else None
                if v is not None and v.isDefined():
                    c[key] += _size_bytes(v.get())
        return c

    def _stream_counters(self) -> Counter:
        c = Counter(dict.fromkeys(self.STREAM_KEYS, 0))
        peak: dict[str, tuple[int, int]] = {}  # run id -> most state rows, bytes
        for p in self.progress:
            d = p.durationMs
            c["stream.batches"] += 1
            c["stream.trigger_ms"] += d.get("triggerExecution", 0)
            c["stream.add_batch_ms"] += d.get("addBatch", 0)
            c["stream.query_planning_ms"] += d.get("queryPlanning", 0)
            c["stream.wal_commit_ms"] += d.get("walCommit", 0)
            c["stream.commit_offsets_ms"] += d.get("commitOffsets", 0)
            ops = p.stateOperators
            c["stream.state_commit_ms"] += sum(o.commitTimeMs for o in ops)
            rows, mem = peak.get(str(p.runId), (0, 0))
            peak[str(p.runId)] = (max(rows, sum(o.numRowsTotal for o in ops)),
                                  max(mem, sum(o.memoryUsedBytes for o in ops)))
        c["stream.state_rows"] += sum(r for r, _ in peak.values())
        c["stream.state_memory_bytes"] += sum(m for _, m in peak.values())
        return c


def java_rss_peak_mb() -> float:
    """Peak RSS (VmHWM) of the Spark JVM, a descendant of this process."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, rest = stat[stat.index("(") + 1: stat.rindex(")")], stat[stat.rindex(")") + 2:]
        parent[int(pid)] = int(rest.split()[1])
        comm[int(pid)] = name
    me, peak = os.getpid(), 0.0
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me and comm[pid] == "java":
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
    return peak


class Client:
    def __init__(self, spark, queries: dict, workload: str, data_dir: str, expected: dict,
                 record: bool):
        self.spark = spark
        self.workload = WORKLOADS[workload]
        self.queries = queries
        self.data_dir = data_dir
        self.expected = expected
        self.record = record
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failures: list[str] = []
        self.observed: dict[str, dict] = {}

    def _digest_mode(self, name: str) -> bool:
        return self.expected.get(name, {}).get("mode") == "digest"

    @staticmethod
    def _action(df, digest: bool) -> list:
        if digest:
            from pyspark.sql import functions as F

            return df.agg(
                F.count(F.lit(1)).alias("n"),
                # bit_xor, not sum: summing 64-bit hashes overflows under ANSI
                F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("digest"),
            ).collect()
        return df.collect()

    @staticmethod
    def _outcome(rows: list, digest: bool) -> dict:
        if digest:
            return {"mode": "digest", "rows": rows[0]["n"],
                    "digest": f"{(rows[0]['digest'] or 0) & ((1 << 64) - 1):016x}"}
        return {"mode": "collect", "rows": len(rows), "digest": rows_digest(rows)}

    def execute(self, name: str, traced: bool) -> dict:
        """One timed execution; the output check runs after the clock.
        Traced, it also returns the query's span with construct, execute and
        fetch children."""
        digest = self._digest_mode(name)
        rec: dict = {"name": name}
        self.attempted += 1
        phase = self.tracer.begin("construct") if traced else None
        w0, t0 = time.time(), time.perf_counter()
        try:
            df = self.queries[name].fn(self.spark, self.data_dir)
        except Exception as e:  # a failed execution is counted, not fatal
            return self._failed(rec, e, t0)
        if traced:
            construct = self.tracer.end(phase)
            phase = self.tracer.begin("execute")
        a0 = time.time()
        try:
            rows = self._action(df, digest)
        except Exception as e:
            return self._failed(rec, e, t0)
        t2, a1 = time.perf_counter(), time.time()
        rec["lat_s"] = t2 - t0
        if traced:
            execute = self.tracer.end(phase)
            # execute: action start -> last job end; fetch: the rest
            last = execute["last_job_end"]
            split = min(max(last, a0), a1) if last else a0
            execute["end"] = split
            rec["span"] = {"name": name, "start": w0, "end": a1, "children": [
                construct, execute, {"name": "fetch", "start": split, "end": a1, "rows": len(rows)}]}
        if self.record and not digest and len(rows) > DIGEST_ROWS:
            digest, rows = True, self._action(df, True)
        rec["ok"] = self._check(name, self._outcome(rows, digest))
        return rec

    def _failed(self, rec: dict, e: Exception, t0: float) -> dict:
        rec.update(ok=False, lat_s=time.perf_counter() - t0)
        traceback.print_exc()  # into the client log
        self.failures.append(f"{rec['name']}: {type(e).__name__}: {str(e)[:300]}")
        return rec

    def _check(self, name: str, got: dict) -> bool:
        if self.record:
            seen = self.observed.setdefault(name, got)
            if seen["digest"] != got["digest"]:
                seen["digest"] = None  # varies between executions: check rows only
            return seen["rows"] == got["rows"]
        want = self.expected[name]
        ok = got["rows"] == want["rows"] and want["digest"] in (None, got["digest"])
        if not ok:
            self.failures.append(f"{name}: got {got}, expected {want}")
        return ok

    def run_pass(self, order: list[str], traced: bool, breathe: bool = True) -> dict:
        # GC breather outside the clock, as bench.py does between rounds:
        # each measured pass starts from a collected heap instead of
        # inheriting the previous pass's garbage.
        heap_mb = self.collect_garbage() if breathe else None
        c0, t0 = time.process_time(), time.perf_counter()
        recs = [self.execute(n, traced) for n in order]
        out = {"traced": traced, "wall_s": time.perf_counter() - t0,
               "cpu_s": time.process_time() - c0, "queries": recs, "heap_mb_before": heap_mb}
        if traced:
            out["floor"] = self.floor_probe()
        return out

    def collect_garbage(self) -> float:
        """Drop cached frames and run a full GC; return the live heap (MB)
        left after it, i.e. the state the session holds between passes."""
        self.spark.catalog.clearCache()
        jvm = self.spark.sparkContext._jvm
        # The first GC enqueues dropped broadcasts and shuffles for Spark's
        # ContextCleaner; the second collects what the cleaner released.
        jvm.System.gc()
        time.sleep(0.3)
        jvm.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / float(1 << 20)

    def floor_probe(self) -> dict:
        """Direct timed calls of the per-query floor: `tune_session`, which
        every registry query runs first, and `load_table` for each table the
        workload reads. Outside the pass clock."""
        from distributed_map_reduce_spark.session import tune_session
        from distributed_map_reduce_spark.sources.catalog import load_table

        tune, load = [], []
        for _ in range(len(self.workload.queries)):
            t0 = time.perf_counter()
            tune_session(self.spark)
            tune.append(time.perf_counter() - t0)
        for table in self.workload.tables:
            t0 = time.perf_counter()
            load_table(self.spark, self.data_dir, table)
            load.append(time.perf_counter() - t0)
        return {"tune_s": tune, "load_table_s": load}


def main() -> None:
    ap = argparse.ArgumentParser(description="closed-loop benchmark client (started by run.py)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--record", action="store_true",
                    help="store observed outputs instead of checking them")
    args = ap.parse_args()

    expected: dict = {}
    if not args.record:
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)

    t0 = time.time()
    from distributed_map_reduce_spark import registry
    from distributed_map_reduce_spark.session import get_spark

    queries = registry.all_queries()
    t1 = time.time()
    spark = get_spark("perfbench")
    t2 = time.time()

    client = Client(spark, queries, args.workload, args.data, expected, args.record)
    rng = random.Random(args.seed)
    names = list(WORKLOADS[args.workload].queries)

    def order() -> list[str]:
        rng.shuffle(names)
        return list(names)

    warm = client.run_pass(order(), traced=False, breathe=False)
    ready = time.time()
    if args.trace:
        client.tracer = Tracer(spark)

    # Start another pass while half of the last one still fits in the
    # window; at least two, so a pass median never rests on one pass
    # (traced: at least three, traced/untraced/traced).
    passes: list[dict] = []
    least = 3 if args.trace else 2
    while len(passes) < least or ready + args.seconds - time.time() > passes[-1]["wall_s"] / 2:
        traced = bool(args.trace) and len(passes) % 2 == 0
        passes.append(client.run_pass(order(), traced))
    end = time.time()
    heap_end_mb = client.collect_garbage()

    result = {
        "setup": {"registry_s": t1 - t0, "session_s": t2 - t1, "warmup_s": ready - t2},
        "ready_wall": ready, "measure_s": end - ready,
        "warmup": warm, "passes": passes,
        "attempted": client.attempted, "failures": client.failures,
        "rss_peak_mb": java_rss_peak_mb(),
        "heap_live_mb": statistics.median([p["heap_mb_before"] for p in passes[1:]] + [heap_end_mb]),
        "cores": spark.sparkContext.defaultParallelism,
    }
    if args.record:
        result["observed"] = client.observed
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
