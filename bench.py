"""Benchmark harness — one JSON line to stdout.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query is fully materialized via the noop
sink (no driver-side collect cost). Each query runs
$SPARK_GRAFT_BENCH_RUNS times (default 5) and reports the MEDIAN plus
the sample spread — single-pass timings proved noise-dominated
(round-2's apparent 1.67x "regression" was ~1.5x drift on queries whose
code had not changed; round-4's 1.42x likewise).

Absolute reference point: each headline query's oracle_sql() also runs
in STOCK LOCAL DUCKDB (the oracle engine, all cores) over the same
parquet on the same box in the same process, fully materialized via
Arrow. That makes the "within 2x of a real single-node engine" budget a
measurable claim: the JSON carries per-query spark_sec / duckdb_sec /
ratio. DuckDB repeats are skipped when the first run exceeds
$SPARK_GRAFT_BENCH_DUCK_CAP seconds (default 120) so a quadratic oracle
cannot stall the round.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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


def _median(samples: list[float]) -> float:
    return round(statistics.median(samples), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from myduckdb_spark import queries as q
    from myduckdb_spark.catalog import TABLES
    from myduckdb_spark.session import get_spark

    spark = get_spark("bench")
    # one builder serves both aggregation modes (functions/compat.py):
    # bench_queries() runs it in float mode, summing plain doubles on
    # BOTH engines. The exact mode's decimal casts exist only for the
    # exact hash-compare against the oracle and cost about 4x on q01 at
    # sf1 — not what a user of either engine writes. Correctness runs
    # exact mode.
    bq = q.bench_queries()
    all_q = {n: b for n, (b, _o) in bq.items()}
    oracles = {n: o for n, (_b, o) in bq.items() if o is not None}

    # JVM/codegen/parquet-reader warm-up (not timed): one trivial scan so
    # per-query timings measure the queries, not one-time init costs
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    duck_cap = float(os.environ.get("SPARK_GRAFT_BENCH_DUCK_CAP", "120"))
    # local-iteration subset (unset → full headline list, the driver path)
    only = [q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q]
    headline = [q for q in HEADLINE if not only or q in only]
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in headline:
        samples = []
        for _ in range(runs):
            t0 = time.time()
            df = all_q[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            samples.append(time.time() - t0)
            # queries that persist() intermediates (dedup) must not hand
            # them to the next run: every sample computes from parquet
            spark.catalog.clearCache()
        samples.sort()
        timings[name] = _median(samples)
        spread[name] = [round(samples[0], 3), round(samples[-1], 3)]
        print(
            f"  {name}: median {timings[name]}s of {[round(s, 2) for s in samples]}",
            file=sys.stderr,
            flush=True,
        )

    # --- DuckDB absolute baseline (same box, same parquet, all cores) ---
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table = directory of parts
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    duck: dict[str, float] = {}
    for name in headline:
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            dsamples = []
            for _ in range(runs):
                # hard wall: a quadratic oracle (the exact-Jaccard dedup
                # baseline is O(n^2) by design) must not stall the round —
                # interrupt DuckDB at the cap and record a SKIP
                import threading

                timer = threading.Timer(duck_cap, con.interrupt)
                timer.start()
                try:
                    t0 = time.time()
                    con.execute(sql).arrow()  # full materialization, columnar
                    dsamples.append(time.time() - t0)
                finally:
                    timer.cancel()
                if dsamples and dsamples[0] > duck_cap / 2:
                    break  # one slow sample is measurement enough
            duck[name] = _median(dsamples)
        except Exception as e:  # oracle fails / interrupted at the cap
            print(f"  duckdb {name}: SKIP ({str(e)[:120]})", file=sys.stderr, flush=True)
            continue
        print(
            f"  duckdb {name}: median {duck[name]}s "
            f"(ratio {round(timings[name] / duck[name], 2) if duck[name] else 'inf'})",
            file=sys.stderr,
            flush=True,
        )

    ratio = {
        n: round(timings[n] / duck[n], 3) for n in duck if duck[n] > 0
    }

    # --- sf1 scale point (primary for the 2x budget: fixed job overhead
    # amortizes; tools/make_sf_scale.py synthesizes 10x sf0.1) ----------
    sf1 = None
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "testdata_sf1"),
    )
    if os.path.isdir(sf1_dir) and os.environ.get(
        "SPARK_GRAFT_BENCH_SF1", "1"
    ).lower() not in ("0", "false"):
        sf1_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SF1_RUNS", "2")))
        # e.g. dedup_minhash_lsh at a synthesized sf10 spills more shuffle
        # than the box's disk — let a scale run exclude named queries
        sf1_skip = set(
            os.environ.get("SPARK_GRAFT_BENCH_SF1_SKIP", "").split(",")
        )
        t1: dict[str, float] = {}
        for name in HEADLINE:
            if name in sf1_skip:
                continue
            samples = []
            for _ in range(sf1_runs):
                t0 = time.time()
                df = all_q[name](spark, sf1_dir)
                df.write.mode("overwrite").format("noop").save()
                samples.append(time.time() - t0)
                spark.catalog.clearCache()
                if samples[0] > 45:  # one slow pass is measurement enough
                    break
            t1[name] = _median(samples)
            print(f"  sf1 {name}: median {t1[name]}s", file=sys.stderr, flush=True)
        con1 = duckdb.connect()
        for t in TABLES:
            p = f"{sf1_dir}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            con1.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        d1: dict[str, float] = {}
        for name in HEADLINE:
            sql = oracles.get(name)
            if sql is None or name in sf1_skip:
                continue
            try:
                import threading

                dsamples = []
                for _ in range(min(sf1_runs, 3)):
                    timer = threading.Timer(duck_cap, con1.interrupt)
                    timer.start()
                    try:
                        t0 = time.time()
                        con1.execute(sql).arrow()
                        dsamples.append(time.time() - t0)
                    finally:
                        timer.cancel()
                    if dsamples[0] > duck_cap / 2:
                        break
                d1[name] = _median(dsamples)
            except Exception as e:
                print(f"  sf1 duckdb {name}: SKIP ({str(e)[:100]})",
                      file=sys.stderr, flush=True)
                continue
            print(
                f"  sf1 duckdb {name}: median {d1[name]}s (ratio "
                f"{round(t1[name] / d1[name], 2) if d1[name] else 'inf'})",
                file=sys.stderr, flush=True,
            )
        sf1 = {
            "queries": t1,
            "total_sec": round(sum(t1.values()), 3),
            "duckdb": d1,
            "ratio": {n: round(t1[n] / d1[n], 3) for n in d1 if d1[n] > 0},
            "runs": sf1_runs,
        }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # full detail (spreads, per-query duckdb medians, sf1 per-query
    # timings) goes to stderr; the FINAL stdout line stays compact
    # (< ~1.5KB) so the driver's tail capture can parse it — round 7's
    # BENCH_r07.json recorded "parsed": null because this line outgrew
    # the capture window.
    detail = {
        "spread": spread,
        "duckdb": duck,
        **({"sf1_detail": sf1} if sf1 else {}),
    }
    print("DETAIL " + json.dumps(detail), file=sys.stderr, flush=True)
    compact = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "ratio": ratio,
        "duckdb_total": round(sum(duck.values()), 3),
        "runs": runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if sf1:
        r1 = sf1["ratio"]
        worst = max(r1, key=r1.get) if r1 else None
        best = min(r1, key=r1.get) if r1 else None
        compact["sf1"] = {
            "total_sec": sf1["total_sec"],
            "duckdb_total": round(sum(sf1["duckdb"].values()), 3),
            "ratio_median": round(statistics.median(r1.values()), 2) if r1 else None,
            "le2x": sum(1 for v in r1.values() if v <= 2.0),
            "worst": [worst, r1.get(worst)] if worst else None,
            "best": [best, r1.get(best)] if best else None,
            "runs": sf1["runs"],
        }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
