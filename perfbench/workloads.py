"""The benchmark's workloads: what one pass runs, in which order.

A workload turns the engine's public entry points into a list of
``Statement``s per pass. The statement set of a workload is fixed; the
workload seed only shuffles the order within each pass and draws the DML
parameters, so every seed measures the same work.

``headline_sf0.01``
    The 13 headline ``bench_queries()`` builders (TPC-H-shaped
    relational queries, the fork's theta join and GROUP_JOIN, as-of
    join, QUALIFY top-k, MinHash-LSH dedup, brute-force top-k and text
    stats), each materialized to Spark's noop sink. At this scale the
    per-query fixed cost (driver-side build, py4j round trips, eager
    jobs, job scheduling) is most of the wall time.

``sql_mixed``
    DuckDB-dialect texts through ``sql.sql()``: TPC-H and DuckDB-ism
    oracle texts from the registry, reads of a managed copy-on-write
    table, and a seeded stream of INSERT...SELECT, UPDATE and DELETE
    statements on that table, one write per three reads. The only workload
    that reaches ``sql.translate`` and ``storage``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q10_returned_items",
    "groupjoin_order_items",
    "join_range_theta",
    "join_asof_purchase_click",
    "agg_rollup",
    "win_qualify_topk",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "text_token_stats",
]

# Registered oracle texts read through the SQL front door: four TPC-H
# queries (aggregation, top-k join, six-way join, NOT EXISTS and scalar
# subqueries) and three texts built on DuckDB-isms (FILTER, ARG_MIN and
# ARG_MAX, COLLATE NOCASE.NOACCENT). Fixed, so a later change that makes
# more texts pass through the front door does not change the workload.
SQL_READS = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_local_supplier_volume",
    "q22_global_sales_opportunity",
    "pivot_status_counts",
    "agg_min_max_by",
    "collate_nocase_noaccent",
]

TABLE = "bench_orders"
TABLE_READS = {
    "table_status_summary": (
        f"SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
        f"FROM {TABLE} GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    "table_priority_topk": (
        f"SELECT o_orderpriority, o_orderkey, o_totalprice FROM {TABLE} "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
        f"ORDER BY o_totalprice DESC, o_orderkey) <= 3 "
        f"ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey"
    ),
}
WRITE_KINDS = ("insert", "update", "delete")  # one of each per pass


@dataclass
class Statement:
    """One unit of closed-loop work.

    ``run`` calls the engine's front door and returns the DataFrame the
    caller materializes. ``oracle`` returns the expected result as Arrow
    given a DuckDB connection; ``duck_dml`` is the text a write applies
    to the DuckDB mirror of the managed table. ``in_ref`` is False when the
    DuckDB reference pass leaves the statement out."""

    name: str
    kind: str  # "read" or "write"
    run: Callable
    oracle: Callable | None = None
    duck_dml: str | None = None
    in_ref: bool = True


class Workload:
    """What the runner needs from a workload; the defaults are those of a
    workload without a managed table."""

    name: str
    sf: float
    nominal_pass_s: float  # one pass on 4 cores; sets the passes per run

    def setup(self, sql_mod) -> None:
        """Per-session state beyond the registered views."""

    def duck_setup(self, con) -> None:
        """The same state in the DuckDB reference connection."""

    def reads(self) -> list[Statement]:
        raise NotImplementedError

    def pass_statements(self, rng: random.Random) -> list[Statement]:
        raise NotImplementedError

    def table_root(self) -> str | None:
        return None

    def live_files(self) -> list[str]:
        return []

    def final_state_sql(self) -> str | None:
        return None


class Headline(Workload):
    name = "headline_sf0.01"
    sf = 0.01
    nominal_pass_s = 8.0

    def __init__(self, spark, data_dir: str):
        from myduckdb_spark import queries

        from perfbench import oracle as orc

        self.spark, self.data_dir = spark, data_dir
        bq = queries.bench_queries()
        self.stmts = []
        for n in HEADLINE:
            builder, text = bq[n]
            if n == "dedup_minhash_lsh":
                # the registered oracle is the O(n^2) exact-Jaccard SQL;
                # the same answer comes from oracle.exact_jaccard_pairs
                want = lambda _con, d=data_dir: orc.exact_jaccard_pairs(d)  # noqa: E731
            else:
                want = lambda con, t=text: con.execute(t).arrow()  # noqa: E731
            self.stmts.append(Statement(
                n, "read", lambda b=builder: b(self.spark, self.data_dir), want,
                in_ref=n != "dedup_minhash_lsh",
            ))

    def reads(self) -> list[Statement]:
        return list(self.stmts)

    def pass_statements(self, rng: random.Random) -> list[Statement]:
        order = list(self.stmts)
        rng.shuffle(order)
        return order


class SqlMixed(Workload):
    name = "sql_mixed"
    sf = 0.01
    nominal_pass_s = 8.0

    def __init__(self, spark, data_dir: str):
        from myduckdb_spark import queries
        from myduckdb_spark import sql as sql_mod

        self.spark, self.data_dir, self.sql = spark, data_dir, sql_mod
        texts = queries.oracle_sql()
        self.reads_ = [self._read(n, texts[n]) for n in SQL_READS]
        self.reads_ += [self._read(n, t) for n, t in TABLE_READS.items()]
        self.inserts = 0

    def _read(self, name: str, text: str) -> Statement:
        return Statement(
            name, "read",
            lambda t=text: self.sql.sql(self.spark, t),
            lambda con, t=text: con.execute(t).arrow(),
        )

    def _write(self, kind: str, text: str) -> Statement:
        return Statement(kind, "write", lambda t=text: self.sql.sql(self.spark, t),
                         duck_dml=text)

    def setup(self, sql_mod) -> None:
        """(Re)create the managed table from ``orders`` by CTAS."""
        sql_mod.reset_dml_state(self.spark)
        sql_mod.sql(self.spark, f"CREATE TABLE {TABLE} AS SELECT * FROM orders")

    def duck_setup(self, con) -> None:
        con.execute(f"CREATE OR REPLACE TABLE {TABLE} AS SELECT * FROM orders")

    def reads(self) -> list[Statement]:
        return list(self.reads_)

    def table_root(self) -> str | None:
        t = self.sql._MANAGED.get(TABLE)
        return t.root if t is not None else None

    def live_files(self) -> list[str]:
        t = self.sql._MANAGED.get(TABLE)
        return [] if t is None else [f["path"] for f in t._manifest()["files"]]

    def final_state_sql(self) -> str | None:
        return f"SELECT * FROM {TABLE}"

    def _writes(self, rng: random.Random) -> list[Statement]:
        # each write touches about 1% of the rows; inserted keys never
        # collide with existing ones
        out = []
        for kind in WRITE_KINDS:
            r = rng.randrange(100)
            if kind == "insert":
                self.inserts += 1
                off = 10_000_000 * self.inserts
                text = (f"INSERT INTO {TABLE} SELECT o_orderkey + {off}, o_custkey, "
                        f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                        f"FROM orders WHERE o_orderkey % 100 = {r}")
            elif kind == "update":
                delta = rng.randrange(1, 10_000) / 4  # exact in binary
                text = (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + {delta}, "
                        f"o_orderstatus = 'U' WHERE o_orderkey % 100 = {r}")
            else:
                s = rng.choice("FOPU")
                text = (f"DELETE FROM {TABLE} WHERE o_orderkey % 100 = {r} "
                        f"AND o_orderstatus = '{s}'")
            out.append(self._write(kind, text))
        return out

    def pass_statements(self, rng: random.Random) -> list[Statement]:
        reads = list(self.reads_)
        rng.shuffle(reads)
        writes = self._writes(rng)
        rng.shuffle(writes)
        # writes at seeded positions among the reads
        order = list(reads)
        for w in writes:
            order.insert(rng.randrange(len(order) + 1), w)
        return order


WORKLOADS = {w.name: w for w in (Headline, SqlMixed)}
