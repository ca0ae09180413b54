"""Deterministic benchmark inputs: the engine's ten parquet tables at
scale factor 0.1 (600k lineitem rows), written inside the checkout.

The schemas and value distributions follow the TPC-H-like tables, event
stream, document corpus and embedding set the engine's queries read
(`sources.catalog.TABLES`). Every column is drawn from one NumPy PCG64
stream with a fixed seed, so the files are the same on every run; the
run seed only shuffles query order. `prepare` compares a content hash of
each table (Arrow IPC bytes of the table as read back) with the committed
`inputs.json`, so the committed expected outputs stay valid for the data
actually read. A passed check is remembered by the files' sizes and
modification times, so later runs re-hash only files that changed.

Run directly to (re)generate and print the hashes:
    python3 perfbench/inputs.py --regen
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, ".data", "sf0.1")
HASHES = os.path.join(HERE, "inputs.json")
CHECKED = DATA_DIR + ".checked.json"
DATA_SEED = 42

SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def generate() -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n["part"], 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"], dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    })
    # 1995-01-01 .. 2001-08-01
    odate = rng.integers(0, 2404, n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"], dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
        "o_orderdate": _days("1995-01-01", odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n["orders"])],
    })
    lok = rng.integers(0, n["orders"], n["lineitem"], dtype=np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n["part"], n["lineitem"], dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"], dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n["lineitem"], dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])],
        "l_shipdate": _days("1995-01-01", odate[lok] + rng.integers(1, 122, n["lineitem"])),
    })
    # 30 days of events in timestamp order
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n["events"]))
    t["events"] = pa.table({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n["events"], dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n["events"])],
        "value": np.round(rng.exponential(50.0, n["events"]), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    # Corpus: random vocabulary text; every 20th document is a near
    # duplicate (an earlier text plus a marker token) and every 625th an
    # exact duplicate, so the dedup and similarity queries find work.
    texts: list[str] = []
    for i in range(n["documents"]):
        if i and i % 625 == 0:
            texts.append(texts[int(rng.integers(0, i))])
        elif i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n["documents"], p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"], dtype=np.int32),
    })
    return t


def content_hash(path: str) -> str:
    table = pq.read_table(path)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def hashes(data_dir: str) -> dict[str, str]:
    return {
        name: content_hash(os.path.join(data_dir, f"{name}.parquet"))
        for name in sorted(SIZES.keys() | {"region", "nation"})
    }


def write(data_dir: str) -> None:
    """Generate into a sibling temp dir and rename, so a killed run never
    leaves a half-written input set behind."""
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)


def _stats(data_dir: str) -> dict[str, list[int]]:
    out = {}
    for name in sorted(os.listdir(data_dir)):
        st = os.stat(os.path.join(data_dir, name))
        out[name] = [st.st_size, st.st_mtime_ns]
    return out


def prepare(data_dir: str = DATA_DIR, checked: str = CHECKED) -> str:
    """Return the input directory, generating it on first use; raise if
    its content differs from the committed hashes."""
    if not os.path.isdir(data_dir):
        write(data_dir)
    try:
        with open(checked) as f:
            if json.load(f) == _stats(data_dir):
                return data_dir
    except (OSError, ValueError):
        pass
    with open(HASHES) as f:
        want = json.load(f)
    got = hashes(data_dir)
    if got != want:
        bad = sorted(k for k in want if got.get(k) != want[k])
        raise RuntimeError(f"benchmark inputs differ from {HASHES}: {bad}")
    with open(checked, "w") as f:
        json.dump(_stats(data_dir), f)
    return data_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--regen", action="store_true", help="rewrite inputs and inputs.json")
    args = ap.parse_args()
    if args.regen:
        write(DATA_DIR)
        with open(HASHES, "w") as f:
            json.dump(hashes(DATA_DIR), f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(hashes(DATA_DIR), indent=1, sort_keys=True))
