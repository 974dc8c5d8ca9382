"""Capture .explain("formatted") for every headline bench query.

Writes plans/<tag>/<query>_<suffix>.txt (default suffix from argv).
Usage: python tools/capture_plans.py before|after [query ...]

Captures the plan bench.py times: the ``bench_queries()`` builder. That
is the one registered builder, run in float aggregation mode for the
queries that have one (plain double sums instead of the decimal casts
that exist only for the exact oracle hash and cost about 4x on q01 at
sf1; see functions/compat.py), else in the exact mode ``queries()`` uses.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("SPARK_GRAFT_PLANS_TAG", "r10")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])

    from bench import HEADLINE
    from myduckdb_spark import queries as q
    from myduckdb_spark.session import get_spark

    spark = get_spark("capture-plans")
    bq = q.bench_queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", TAG)
    os.makedirs(outdir, exist_ok=True)
    # extra names beyond the headline list capture the registered builder
    names = list(HEADLINE) + sorted(set(only) - set(HEADLINE))
    for name in names:
        if only and name not in only:
            continue
        builder, _ = bq[name]
        df = builder(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)


if __name__ == "__main__":
    main()
