"""Plan-shape sweep over EVERY registered query (guide §1.3).

Builds each registered query at sf0.01 (plan only — nothing executed
except builders' own bounded probes) and scans the formatted physical
plan for scale anti-patterns:

* BatchEvalPython            — row-at-a-time Python UDF (guide §4.1)
* CartesianProduct           — accidental cross product (guide §3.4)
* BroadcastNestedLoopJoin    — flagged for review (legit for small-side
                               theta joins; fatal when both sides scale)
* Exchange count             — shuffles per query (guide §2.1)
* scans without ReadSchema pruning (heuristic: scan emits >24 columns)

Output: one JSON line per query on stdout; human summary on stderr.

Usage: python tools/plan_sweep.py [name ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SWEEP_DIR", "/root/testdata/sf0.01")
# a shuffle, as the physical plan's tree string names it (BroadcastExchange
# and ReusedExchange are other node names; tests/test_plans.py counts the same)
SHUFFLE_EXCHANGE = (
    r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"
)


def main() -> None:
    from myduckdb_spark import queries as q
    from myduckdb_spark.session import get_spark

    spark = get_spark("plan-sweep")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    only = set(sys.argv[1:])
    results = []
    for name, builder in sorted(q.queries().items()):
        if only and name not in only:
            continue
        try:
            df = builder(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(mode)
            tree = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # builder needs fixtures the sweep lacks
            results.append({"name": name, "error": str(e)[:200]})
            print(f"ERR  {name}: {str(e)[:120]}", file=sys.stderr, flush=True)
            continue
        rec = {
            "name": name,
            "exchanges": len(re.findall(SHUFFLE_EXCHANGE, tree)),
            "broadcast_exchanges": len(re.findall(r"\bBroadcastExchange\b", tree)),
            "batch_eval_python": len(re.findall(r"BatchEvalPython", plan)),
            "arrow_eval_python": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
            "cartesian": len(re.findall(r"CartesianProduct", plan)),
            "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
            "smj": len(re.findall(r"SortMergeJoin", plan)),
            "scans": len(re.findall(r"Scan parquet", plan)),
            "in_memory_scans": len(re.findall(r"Scan In-memory|InMemoryTableScan", plan)),
        }
        flags = []
        if rec["batch_eval_python"]:
            flags.append("BATCH_EVAL_PYTHON")
        if rec["cartesian"]:
            flags.append("CARTESIAN")
        if rec["bnlj"]:
            flags.append("BNLJ")
        rec["flags"] = flags
        results.append(rec)
        mark = " ".join(flags)
        print(
            f"ok   {name}: ex={rec['exchanges']} bx={rec['broadcast_exchanges']}"
            f" scans={rec['scans']} py={rec['batch_eval_python']}/{rec['arrow_eval_python']}"
            f" {mark}",
            file=sys.stderr,
            flush=True,
        )
        spark.catalog.clearCache()
    print(json.dumps(results))


if __name__ == "__main__":
    main()
