"""One scratch root per process for every staged write that is read back
(sink round trips, staged fact tables, the bucketed warehouse, stream
landing, state and checkpoint dirs).

The root is ``tempfile.mkdtemp(prefix="dmrs_")`` (so ``TMPDIR`` applies),
made on first use and removed when the process that made it exits. A
frame that reads a scratch dir therefore stays valid for the whole
process, and no scratch dir outlives it. Dirs are numbered in the order
they are asked for, so two runs that build the same queries in the same
order stage to the same paths below their roots.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading

_lock = threading.Lock()
_root: str | None = None
_owner: int | None = None
_seq = itertools.count()


def _remove(root: str, owner: int) -> None:
    # a forked child inherits this hook; only the creator removes the root
    if os.getpid() == owner:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(name: str) -> str:
    """A fresh, empty dir ``<root>/<name>_<n>`` under this process's root."""
    global _root, _owner
    with _lock:
        if _owner != os.getpid():
            _root, _owner = tempfile.mkdtemp(prefix="dmrs_"), os.getpid()
            atexit.register(_remove, _root, _owner)
        d = os.path.join(_root, f"{name}_{next(_seq)}")
    os.mkdir(d)
    return d
