"""Money and experiment definitions: the decisions every analytic query
repeats, each defined once beside its DuckDB twin (spliced into oracle
SQL), so an operator and its oracle cannot drift apart.

- :func:`to_cents`: money as exact BIGINT cents,
  ``CAST(round(x * 100) AS BIGINT)``. Sums of cents are exact on both
  engines, so money totals hash identically; a sum of doubles would
  not.
- :func:`sum_dollars_half_up`: a money column's summed cents as whole
  dollars, ``(sum(cents) + 50) div 100``: half up for a non-negative
  sum (both engines' integer division truncates toward zero).
- :func:`converted`: the A/B experiment unit, an aggregate over a
  user's events: 1 if the user made one purchase with ``value >= 150``,
  else 0. A plain purchase saturates at 100% and zeroes the variance.
- :func:`arm`: the experiment arm, ``user_id % 2``; :func:`arm_pivot`
  turns the two-row per-arm (n, c) frame into one row n_a, c_a, n_b,
  c_b (arm 0 is A, arm 1 is B).
- :func:`normal_tail`: the standard normal upper tail ``1 - Φ(|z|)`` by
  the Abramowitz–Stegun 26.2.17 polynomial (absolute error < 7.5e-8),
  the same expression tree on both engines: no erf dependency.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

ARM_SQL = "user_id % 2"
CONVERTED_SQL = "max(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END)"

_ARMS = (("a", 0), ("b", 1))


def to_cents(money: Column | str) -> Column:
    if isinstance(money, str):
        money = F.col(money)
    return F.round(money * 100).cast("bigint")


def to_cents_sql(money: str) -> str:
    return f"CAST(round({money} * 100) AS BIGINT)"


def sum_dollars_half_up(money: str) -> Column:
    return F.expr(f"(sum({to_cents_sql(money)}) + 50) div 100")


def sum_dollars_half_up_sql(money: str) -> str:
    return f"(sum({to_cents_sql(money)}) + 50) // 100"


def converted() -> Column:
    return F.max(
        F.when((F.col("event_type") == "purchase") & (F.col("value") >= 150), 1)
        .otherwise(0)
    )


def arm() -> Column:
    return F.col("user_id") % 2


def arm_pivot(
    cols: tuple[str, ...] = ("n", "c"), wrap: Callable[[Column], Column] = lambda c: c
) -> list[Column]:
    """``max(CASE WHEN arm = i THEN col END)`` per arm and column, each
    passed through ``wrap`` (the caller's coalesce/cast) and aliased
    ``<col>_a`` / ``<col>_b``. A missing arm gives NULL before ``wrap``."""
    return [
        wrap(F.max(F.when(F.col("arm") == i, F.col(c)))).alias(f"{c}_{s}")
        for s, i in _ARMS
        for c in cols
    ]


def arm_pivot_sql(cols: tuple[str, ...] = ("n", "c"), wrap: str = "{}") -> str:
    return ",\n".join(
        f"{wrap.format(f'max(CASE WHEN arm = {i} THEN {c} END)')} AS {c}_{s}"
        for s, i in _ARMS
        for c in cols
    )


def normal_tail(z: Column, two_sided: bool = False) -> Column:
    """Upper tail of |z|; ``two_sided`` doubles it (the two-sided p)."""
    t = 1.0 / (1.0 + 0.2316419 * F.abs(z))
    phi = F.exp(-z * z / 2.0) / F.sqrt(F.lit(2.0) * 3.141592653589793)
    return (2.0 * phi if two_sided else phi) * (
        0.319381530 * t
        - 0.356563782 * F.pow(t, 2)
        + 1.781477937 * F.pow(t, 3)
        - 1.821255978 * F.pow(t, 4)
        + 1.330274429 * F.pow(t, 5)
    )


def normal_tail_sql(z: str, two_sided: bool = False) -> str:
    t = f"1.0 / (1.0 + 0.2316419 * abs({z}))"
    return (
        f"{'2.0 * ' if two_sided else ''}(exp(-{z} * {z} / 2.0) / sqrt(2.0 * pi()))"
        f" * (0.319381530 * ({t}) - 0.356563782 * pow({t}, 2)"
        f" + 1.781477937 * pow({t}, 3) - 1.821255978 * pow({t}, 4)"
        f" + 1.330274429 * pow({t}, 5))"
    )
