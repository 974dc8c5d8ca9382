"""The exact/float aggregation switch (functions/compat.py).

One builder serves both modes: ``queries()`` runs it exact (money sums
over DECIMAL casts, for the oracle hash) and ``bench_queries()`` runs
it in float mode (plain double sums) against a float oracle derived
from the same template. Each float-mode builder must match its float
oracle in DuckDB within the benchmark's tolerance, and the mode switch
must show in the analyzed plan both ways.
"""

import os

import duckdb
import pytest

from myduckdb_spark import queries as q
from myduckdb_spark.catalog import TABLES
from perfbench.oracle import mismatch

FLOAT_QUERIES = (
    "q01_pricing_summary", "q03_top_revenue_orders",
    "q05_local_supplier_volume", "q06_forecast_revenue",
    "q10_returned_items", "groupjoin_order_items", "join_range_theta",
    "agg_rollup",
)


@pytest.fixture(scope="module")
def sf01(sf_dir):
    """The sf0.01 tables beside the session's test data."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def con(sf01):
    c = duckdb.connect()
    c.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf01}/{t}.parquet'")
    return c


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString().lower()


@pytest.mark.parametrize("name", FLOAT_QUERIES)
def test_float_mode_builder_matches_float_oracle(spark, con, sf01, name):
    builder, text = q.bench_queries()[name]
    assert text != q.oracle_sql()[name], "float oracle must differ from the exact one"
    df = builder(spark, sf01)
    assert "as decimal(" not in _analyzed(df), "float mode must not cast to DECIMAL"
    assert "as decimal(" in _analyzed(q.queries()[name](spark, sf01)), (
        "exact mode must cast to DECIMAL"
    )
    err = mismatch(df.toArrow(), con.execute(text).arrow())
    assert err is None, err
