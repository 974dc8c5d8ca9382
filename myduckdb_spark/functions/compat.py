"""Money/ratio aggregation helpers — the one place that decides between
exact and float aggregation.

Exact mode (the default): summing doubles is order-dependent, and
Spark's partial/final aggregation order differs run-to-run and
engine-to-engine — so any query whose result is hash-compared against
DuckDB computes money/ratio aggregates over DECIMAL casts (exact,
associative, order-independent) and casts the final value back to
DOUBLE. The per-row double arithmetic inside the cast is written with
identical operator order on both sides, so the doubles match
bit-for-bit before the cast. This mirrors what the reference itself
does: DuckDB's SUM over DECIMAL accumulates in HUGEINT/int128
(src/core_functions/aggregate/distributive/sum.cpp).

Float mode: the same helpers emit plain ``SUM``/``AVG`` over doubles, on
both the Spark side and the SQL side. The decimal casts exist only for
the exact hash-compare, and they cost about 4x on aggregate-bound
queries (q01 at sf1: 1.71 s decimal vs 0.42 s double, local[32]); no
user of either engine writes them. So the benchmarks run each query in
float mode, and one builder serves both modes: the query registry runs
a builder and its oracle template under ``float_mode`` only for
``bench_queries()``. ``queries()``, ``oracle_sql()`` and direct calls of
a builder always see exact mode.
"""

from __future__ import annotations

import functools
from contextvars import ContextVar
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"

_EXACT: ContextVar[bool] = ContextVar("exact_aggregates", default=True)


def float_mode(fn: Callable) -> Callable:
    """``fn`` run with plain double aggregates (the benchmark mode)."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        token = _EXACT.set(False)
        try:
            return fn(*args, **kwargs)
        finally:
            _EXACT.reset(token)

    return run


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, alias: str) -> Column:
    """SUM of a double column: exact via decimal accumulation."""
    c = _c(col)
    if not _EXACT.get():
        return F.sum(c).alias(alias)
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """AVG: exact as a decimal sum and one double division."""
    c = _c(col)
    if not _EXACT.get():
        return F.avg(c).alias(alias)
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def dsum_sql(expr: str, alias: str) -> str:
    if not _EXACT.get():
        return f"SUM({expr}) AS {alias}"
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def davg_sql(expr: str, alias: str) -> str:
    if not _EXACT.get():
        return f"AVG({expr}) AS {alias}"
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )


def revenue() -> Column:
    """l_extendedprice * (1 - l_discount)."""
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def revenue_col() -> Column:
    """``revenue()``, decimal-cast per row in exact mode."""
    return revenue().cast(DEC) if _EXACT.get() else revenue()
