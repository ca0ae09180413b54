"""Twin parity for functions/normalize.py: the Spark tokenizer and
fingerprint, their DuckDB twins and the Python token twins agree on
whitespace, case, empty and null inputs."""

from __future__ import annotations

import duckdb
import pandas as pd

from distributed_map_reduce_spark.functions import normalize as nz

TEXTS = ["a b", "a\tb", "a\r\nb", "a\x0bb", "a  b", " a b ", "A B", "", None]


def test_spark_duckdb_and_python_twins_agree(spark):
    rows = list(enumerate(TEXTS))
    got = (
        spark.createDataFrame(rows, "i int, text string")
        .select(
            "i",
            nz.split_lower("text"),
            nz.words("text"),
            nz.normalized("text"),
            nz.fingerprint("text"),
        )
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["i", "text"]))
    want = con.execute(
        f"SELECT i, {nz.SPLIT_LOWER_SQL}, {nz.WORDS_SQL}, {nz.NORMALIZED_SQL},"
        f" {nz.FINGERPRINT_SQL} FROM documents ORDER BY i"
    ).fetchall()
    assert [tuple(r) for r in got] == want
    assert [nz.split_lower_py(t) for t in TEXTS] == [r[1] for r in got]
    assert [nz.words_py(t) for t in TEXTS] == [r[2] for r in got]
    # RE2's \s (DuckDB) has no U+000B: a vertical tab is not whitespace
    fps = {t: r[4] for t, r in zip(TEXTS, got)}
    assert fps["a\x0bb"] != fps["a b"]
    assert fps["a\tb"] == fps["a\r\nb"] == fps["a  b"] == fps[" a b "] == fps["A B"] == fps["a b"]
