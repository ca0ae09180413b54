"""Selectable placement schemes — the reference's naive / consistent /
rendezvous key→node hashing (`/root/reference/distribution/util/id.js:
107-148`, exercised by `test/all.test.js:852-878`) re-expressed as
portable column expressions.

The three schemes are selectable and oracle-checkable: every key and
node position is the portable 60-bit hash of ``functions.hashing``
(:func:`md5_int`, its DuckDB and Python twins — a re-expression of the
reference's sha256-based idToNum with the same scheme properties), so
DuckDB replays every assignment bit-for-bit. Consistent-hash ring
positions are Python constants folded into one CASE.

The property that motivates consistent/rendezvous — adding a node moves
only ~1/(n+1) of keys, vs ~n/(n+1) for naive mod — is pinned by
tests/test_kv.py::test_consistent_hash_minimal_reshuffle, the Spark
form of the reference's reconf delta-move test (`all/store.js:217-285`).

At scale these are *placement policies*, not partitioners: the owner
column drives `repartition(n, owner)` / `partitionBy(owner)` writes, so
a reconf only rewrites the moved slice (`MERGE`/dynamic partition
overwrite on owner=changed)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import md5_int, md5_int_py, md5_int_sql


def naive_owner(key: Column, nodes: list[str]) -> Column:
    """nodes[H(key) % n] over the sorted node list (`id.js:107-114`)."""
    ns = sorted(nodes)
    arr = F.array(*[F.lit(n) for n in ns])
    return F.element_at(arr, (md5_int(key) % len(ns) + 1).cast("int"))


def naive_owner_sql(key_expr: str, nodes: list[str]) -> str:
    ns = sorted(nodes)
    arr = "[" + ", ".join(f"'{n}'" for n in ns) + "]"
    return f"({arr})[CAST({md5_int_sql(key_expr)} % {len(ns)} + 1 AS INT)]"


def consistent_owner(key: Column, nodes: list[str]) -> Column:
    """Hash-ring successor: first node whose position ≥ the key's,
    wrapping to the ring's first node (`id.js:115-126`). Node positions
    are compile-time constants, so the ring walk folds into one CASE."""
    ring = sorted((md5_int_py(n), n) for n in nodes)
    kpos = md5_int(key)
    out = F.lit(ring[0][1])  # wrap default
    for pos, node in reversed(ring):
        out = F.when(kpos <= pos, F.lit(node)).otherwise(out)
    return out


def consistent_owner_sql(key_expr: str, nodes: list[str]) -> str:
    ring = sorted((md5_int_py(n), n) for n in nodes)
    kpos = md5_int_sql(key_expr)
    whens = " ".join(f"WHEN {kpos} <= {pos} THEN '{node}'" for pos, node in ring)
    return f"(CASE {whens} ELSE '{ring[0][1]}' END)"


def rendezvous_owner(key: Column, nodes: list[str]) -> Column:
    """Highest-random-weight: argmax over nodes of H(key ⊕ node)
    (`id.js:127-148`); ties break to the first node in sorted order —
    deterministic and engine-identical."""
    ns = sorted(nodes)
    scores = [md5_int(F.concat(key, F.lit("|" + n))) for n in ns]
    out = F.lit(ns[-1])
    for i in range(len(ns) - 2, -1, -1):
        cond = scores[i] >= scores[i + 1]
        for j in range(i + 2, len(ns)):
            cond = cond & (scores[i] >= scores[j])
        out = F.when(cond, F.lit(ns[i])).otherwise(out)
    return out


def rendezvous_owner_sql(key_expr: str, nodes: list[str]) -> str:
    ns = sorted(nodes)
    scores = [md5_int_sql(f"{key_expr} || '|{n}'") for n in ns]
    whens = []
    for i in range(len(ns) - 1):
        cond = " AND ".join(f"{scores[i]} >= {scores[j]}" for j in range(i + 1, len(ns)))
        whens.append(f"WHEN {cond} THEN '{ns[i]}'")
    return f"(CASE {' '.join(whens)} ELSE '{ns[-1]}' END)"
