"""Twin parity for functions/measures.py: the Spark money and experiment
definitions and their DuckDB twins agree on midpoints, signs, the
conversion threshold and nulls, and the normal tail is within the
Abramowitz-Stegun bound of the exact value."""

from __future__ import annotations

import math

import duckdb
from pyspark.sql import functions as F

from distributed_map_reduce_spark.functions import measures as ms

MONEY = [0.005, 0.015, -0.005, -0.015, 1.005, 0.125, -0.125, 2.675, -2.675, None]
# (group, cents): each group's sum has a remainder of exactly +-50 cents
HALF_UP = [(1, 150), (2, 250), (3, 149), (4, 50), (5, -150), (6, -250), (7, -50), (8, -151)]
EVENTS = [
    (1, "purchase", 149.99),
    (2, "purchase", 150.0),
    (3, "purchase", None),
    (4, "view", 200.0),
    (5, "view", 200.0),
    (5, "purchase", 150.0),
    (-3, "purchase", 300.0),
    (-4, "click", 1.0),
]
ZS = [0.0, 1.96, -1.96, 6.0, -6.0]


def _duck(table: str, schema: str, rows: list[tuple]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {table} ({schema})")
    con.executemany(f"INSERT INTO {table} VALUES ({', '.join('?' * len(rows[0]))})", rows)
    return con


def test_cents_match_at_half_cent_midpoints(spark):
    rows = list(enumerate(MONEY))
    got = (
        spark.createDataFrame(rows, "i int, x double")
        .select("i", ms.to_cents("x").alias("c"))
        .orderBy("i")
        .collect()
    )
    want = _duck("t", "i INTEGER, x DOUBLE", rows).execute(
        f"SELECT i, {ms.to_cents_sql('x')} AS c FROM t ORDER BY i"
    ).fetchall()
    assert [tuple(r) for r in got] == want
    cents = dict(zip(MONEY, (c for _, c in want)))
    # the scaled midpoints 12.5 and 267.5 are exact doubles and round half
    # away from zero on both engines (round(2.675, 2) would give 2.67);
    # 1.005 * 100 is 100.49999999999999, so it rounds down
    assert (cents[0.125], cents[-0.125], cents[2.675], cents[-2.675]) == (13, -13, 268, -268)
    assert cents[1.005] == 100
    assert cents[None] is None


def test_sum_dollars_half_up_matches_at_50_cent_remainders(spark):
    rows = [(g, c / 100) for g, c in HALF_UP]
    got = (
        spark.createDataFrame(rows, "g int, m double")
        .groupBy("g")
        .agg(ms.sum_dollars_half_up("m").alias("d"))
        .orderBy("g")
        .collect()
    )
    want = _duck("t", "g INTEGER, m DOUBLE", rows).execute(
        f"SELECT g, {ms.sum_dollars_half_up_sql('m')} AS d FROM t GROUP BY g ORDER BY g"
    ).fetchall()
    assert [tuple(r) for r in got] == want
    # integer division truncates toward zero on both engines: -1.51 -> -1
    assert [d for _, d in want] == [2, 3, 1, 1, -1, -2, 0, -1]


def test_conversion_and_arm_match(spark):
    schema = "user_id BIGINT, event_type VARCHAR, value DOUBLE"
    got = (
        spark.createDataFrame(EVENTS, "user_id long, event_type string, value double")
        .groupBy("user_id")
        .agg(ms.converted().alias("conv"))
        .select("user_id", "conv", ms.arm().alias("arm"))
        .orderBy("user_id")
        .collect()
    )
    want = _duck("events", schema, EVENTS).execute(
        f"SELECT user_id, {ms.CONVERTED_SQL} AS conv, {ms.ARM_SQL} AS arm"
        " FROM events GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    assert [tuple(r) for r in got] == want
    # 149.99, a null value and a 200 view do not convert; 150 does.
    # Both engines keep the dividend's sign, so a negative odd id is arm -1.
    assert want == [(-4, 0, 0), (-3, 1, -1), (1, 0, 1), (2, 1, 0), (3, 0, 1), (4, 0, 0), (5, 1, 1)]


def test_arm_pivot_matches(spark):
    arms = [(0, 10, 3), (1, 12, 5)]
    wrap = "CAST(coalesce({}, 0) AS BIGINT)"
    got = (
        spark.createDataFrame(arms, "arm int, n long, c long")
        .agg(*ms.arm_pivot(wrap=lambda c: F.coalesce(c, F.lit(0)).cast("bigint")))
        .collect()
    )
    want = _duck("arms", "arm INTEGER, n BIGINT, c BIGINT", arms).execute(
        f"SELECT {ms.arm_pivot_sql(wrap=wrap)} FROM arms"
    ).fetchall()
    assert got[0].asDict() == {"n_a": 10, "c_a": 3, "n_b": 12, "c_b": 5}
    assert [tuple(got[0])] == want


def test_normal_tail_matches_and_is_within_the_as_bound(spark):
    rows = list(enumerate(ZS))
    got = (
        spark.createDataFrame(rows, "i int, z double")
        .select("i", ms.normal_tail(F.col("z")), ms.normal_tail(F.col("z"), two_sided=True))
        .orderBy("i")
        .collect()
    )
    want = _duck("t", "i INTEGER, z DOUBLE", rows).execute(
        f"SELECT i, {ms.normal_tail_sql('z')}, {ms.normal_tail_sql('z', two_sided=True)}"
        " FROM t ORDER BY i"
    ).fetchall()
    for z, (_, s1, s2), (_, d1, d2) in zip(ZS, got, want):
        exact = 0.5 * math.erfc(abs(z) / math.sqrt(2))
        assert abs(s1 - d1) <= 1e-12 and abs(s2 - d2) <= 1e-12
        assert abs(s1 - exact) < 7.5e-8 and abs(d1 - exact) < 7.5e-8
        assert s2 == 2.0 * s1
