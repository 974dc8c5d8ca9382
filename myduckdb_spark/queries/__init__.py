"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 gets a named entry:
a builder ``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible)
an equivalent DuckDB oracle SQL string. ``__spark_entry__.py`` exposes
this registry to the driver; ``tools/check.py`` runs the same comparison
locally.

Column-name discipline: every computed column is aliased identically in
the Spark builder and the oracle SQL (the driver sorts columns by name
before hashing values).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from myduckdb_spark.cacheutil import release_tracked
from myduckdb_spark.functions.compat import float_mode

Builder = Callable[[SparkSession, str], DataFrame]


def _scoped(fn: Builder) -> Builder:
    """Release the PREVIOUS query's tracked persists before building the
    next one (cacheutil): callers build → materialize → build → …, so by
    the time the next builder runs, earlier caches have no reader. Keeps
    cache usage bounded in a session looping over the whole registry."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_tracked()
        return fn(spark, sf_dir)

    return build


@dataclass
class QueryDef:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, QueryDef] = {}
# float-mode oracle text of each query whose oracle template reads the
# aggregation mode (functions/compat.py); bench_queries() runs those
# queries' builders in float mode against it
_FLOAT_ORACLES: dict[str, str] = {}


def register(
    name: str, oracle: str | Callable[[], str] | None = None, tags: tuple[str, ...] = ()
):
    """Register a builder and its DuckDB oracle.

    ``oracle`` is SQL text, or a template: a zero-argument callable that
    builds the text with the compat aggregation helpers. A template is
    evaluated here in both modes; the exact text is the query's oracle,
    and a float text that differs from it becomes the bench oracle."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        text = oracle() if callable(oracle) else oracle
        if callable(oracle) and (flt := float_mode(oracle)()) != text:
            _FLOAT_ORACLES[name] = flt
        REGISTRY[name] = QueryDef(name, _scoped(fn), text, tags)
        return fn  # direct module-level callers keep the unscoped builder

    return deco


def bench_queries() -> dict[str, tuple[Builder, str | None]]:
    """(builder, DuckDB oracle) per query for the benchmarks. A query
    with a float oracle runs its one builder in float mode against it;
    every other query is its registered exact pair."""
    _load_all()
    out = {}
    for n in _ordered_names():
        q = REGISTRY[n]
        flt = _FLOAT_ORACLES.get(n)
        out[n] = (q.builder, q.oracle) if flt is None else (float_mode(q.builder), flt)
    return out


# The correctness driver verifies a 50-query window of the registry in
# registration order, so queries() yields highest-priority entries first:
# the queries whose newest green row is oldest, so every registered query
# re-verifies on a rotating schedule, and the query paths whose
# implementation changed since their last green row.
R11_PRIORITY = (
    # the 14 queries whose newest CORRECTNESS_r*.json row is oldest: one
    # from r07, then the 13 from r08
    "win_share_of_group",
    "agg_approx", "setop_union_distinct", "setop_except_intersect",
    "setop_all_variants", "pivot_status_counts", "unnest_tokens",
    "values_and_series", "date_series_buckets", "recursive_cte_series",
    "collate_nocase_noaccent", "interval_arithmetic", "seq_bulk_ids",
    "upsert_on_conflict",
    # the 8 query paths whose money aggregates now route through the
    # compat helpers (one builder serves the exact and float modes)
    "q01_pricing_summary", "q03_top_revenue_orders",
    "q05_local_supplier_volume", "q06_forecast_revenue",
    "q10_returned_items", "groupjoin_order_items", "join_range_theta",
    "agg_rollup",
    # then 28 of the 34 other r09 rows fill the 50 slots; the 6 window
    # queries that overflow are untouched-code r09-green rows that age
    # one more round
    "agg_min_max_by", "agg_string_agg_ordered", "agg_stats_exact",
    "agg_median_quantile", "agg_mode_deterministic", "agg_bool_bit",
    "agg_collect_histogram", "agg_regression", "agg_mad_topk",
    "fn_string_battery", "fn_math_battery", "fn_struct_map_battery",
    "fn_blob_battery", "join_left_outer_counts", "join_full_outer",
    "join_semi", "join_anti", "join_mark_in_subquery",
    "join_single_scalar_subquery", "join_cross_product", "join_positional",
    "tableinout_normalize", "sample_deterministic", "limit_offset_page",
    "unpivot_part_measures", "stream_window_counts_batch",
    "order_nulls_parity", "q12_priority_shipping",
)


def _ordered_names() -> list[str]:
    names = list(REGISTRY)
    prio = [n for n in R11_PRIORITY if n in names]
    return prio + [n for n in names if n not in set(prio)]


def queries() -> dict[str, Builder]:
    _load_all()
    return {n: REGISTRY[n].builder for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {n: REGISTRY[n].oracle for n in _ordered_names() if REGISTRY[n].oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (side-effect: registration)."""
    global _LOADED
    if _LOADED:
        return
    from myduckdb_spark.queries import (  # noqa: F401
        aggregates,
        core,
        functions_battery,
        join_family,
        pipeline_ops,
        setops_misc,
        storage_dml,
        tpch_full,
        windows,
    )

    _LOADED = True
