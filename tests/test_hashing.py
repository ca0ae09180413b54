"""Twin parity for functions/hashing.py: the Spark md5-prefix integer,
its DuckDB twins (on the key, and on its md5 hex with a SQL-text start)
and its Python twin agree at every width and start the
package uses, on empty, non-ASCII and salted keys, with null on both
engines, and a 15-digit prefix with its top bit set still fits BIGINT."""

from __future__ import annotations

import itertools

import duckdb
from pyspark.sql import functions as F

from distributed_map_reduce_spark.functions import hashing as hs

KEYS = ["", "é", "日本", "cal-42", None]
WIDTHS = [1, 2, 8, 15]
STARTS = [1, 3, 9, 11]
CASES = list(itertools.product(WIDTHS, STARTS))


def _spark(spark, fn) -> list[tuple]:
    df = spark.createDataFrame(list(enumerate(KEYS)), "i int, s string")
    cols = [fn(w, st).alias(f"h_{w}_{st}") for w, st in CASES]
    return [tuple(r) for r in df.select("i", *cols).orderBy("i").collect()]


def _duck(fn=lambda w, st: hs.md5_int_sql("s", w, start=st)) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(KEYS)))
    cols = ", ".join(f"{fn(w, st)} AS h_{w}_{st}" for w, st in CASES)
    return con.execute(f"SELECT i, {cols} FROM t ORDER BY i").fetchall()


def _py() -> list[tuple]:
    return [(i, *[hs.md5_int_py(s, w, start=st) for w, st in CASES]) for i, s in enumerate(KEYS)]


def test_spark_duckdb_python_agree(spark):
    want = _py()
    assert _spark(spark, lambda w, st: hs.md5_int("s", w, start=st)) == want
    assert _duck() == want
    assert _duck(lambda w, st: hs.hex_int_sql("md5(s)", w, start=f"{st - 1} + 1")) == want


def test_hex_int_reads_a_computed_digest(spark):
    assert _spark(spark, lambda w, st: hs.hex_int(F.md5("s"), w, start=st)) == _py()


def test_null_is_null_on_every_engine(spark):
    row = KEYS.index(None)
    nulls = (row, *[None] * len(CASES))
    assert _spark(spark, lambda w, st: hs.md5_int("s", w, start=st))[row] == nulls
    assert _duck()[row] == nulls
    assert hs.md5_int_py(None) is None


def test_width_15_fills_60_bits_and_fits_bigint(spark):
    full = [hs.md5_int_py(s) for s in KEYS if s is not None]
    # md5("") = d41d8cd9... and md5("cal-42") = c28db960...: the top bit of
    # the 60-bit prefix is set, and the value still reads as a positive BIGINT
    assert all(0 <= h < 2**60 for h in full)
    assert sum(h >= 2**59 for h in full) == 2
    row = spark.createDataFrame([("cal-42",)], "s string").select(hs.md5_int("s").alias("h"))
    assert dict(row.dtypes)["h"] == "bigint"
    assert row.collect()[0]["h"] == hs.md5_int_py("cal-42") == 0xC28DB9607FF4E61
    (duck,) = duckdb.sql(f"SELECT {hs.md5_int_sql(repr('cal-42'))}").fetchone()
    assert duck == 0xC28DB9607FF4E61
