"""The portable hash: every key→number rule in the package (MinHash and
sketch hashes, hash samplers, placement, synthetic coins) is one md5
prefix read as an integer, defined here once beside its DuckDB twin
(spliced into oracle SQL) and its Python twin (driver-side constants
and Python row code), so every engine replays the same numbers bit for
bit.

The rule: the ``width`` hex digits of ``md5(s)`` starting at digit
``start`` (1-based), as a BIGINT. The default width 15 is 60 bits, the
widest prefix that fits a signed 64-bit BIGINT on both engines (16
digits would overflow it), so every width from 1 to 15 reads as a
non-negative integer below ``16 ** width``. A null input gives null.

- :func:`md5_int`: Spark, ``conv(substring(md5(s), start, width), 16,
  10)`` cast to bigint; :func:`hex_int` is the same read on an md5 hex
  column a query has already computed.
- :func:`md5_int_sql`: DuckDB, ``CAST('0x' || substr(md5(s), start,
  width) AS BIGINT)``; :func:`hex_int_sql` is the same read on an md5
  hex expression, and its ``start`` may be SQL text (a per-row lane).
- :func:`md5_int_py`: Python, ``int(md5(s).hexdigest()[start-1:
  start-1+width], 16)`` over the UTF-8 bytes (what both engines hash).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex_int(digest: Column | str, width: int = 15, start: int = 1) -> Column:
    return F.conv(F.substring(digest, start, width), 16, 10).cast("bigint")


def md5_int(s: Column | str, width: int = 15, start: int = 1) -> Column:
    return hex_int(F.md5(s), width, start)


def hex_int_sql(hex_expr: str, width: int = 15, start: int | str = 1) -> str:
    return f"CAST('0x' || substr({hex_expr}, {start}, {width}) AS BIGINT)"


def md5_int_sql(expr: str, width: int = 15, start: int = 1) -> str:
    return hex_int_sql(f"md5({expr})", width, start)


def md5_int_py(s: str | None, width: int = 15, start: int = 1) -> int | None:
    if s is None:
        return None
    return int(hashlib.md5(s.encode()).hexdigest()[start - 1 : start - 1 + width], 16)
