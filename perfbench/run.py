"""Engine benchmark: closed-loop statement latency, with a per-layer split.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload headline_sf0.01 --seed 1 --seconds 20 --trace 0

One process, Spark on ``local[nproc]``, one closed-loop client: exactly
one statement is in flight at a time. A run

1. generates (or reuses) the workload's tables under ``.perfbench/data``;
2. sets up once, timed as ``setup_s``: everything before the first timed
   statement, that is a SparkSession from ``get_spark`` (which starts the
   JVM), every table registered as a view, the workload's own state (the
   managed table of ``sql_mixed``) and one untimed warm pass, which fills
   the catalog caches and warms the JVM;
3. runs ``round(--seconds / nominal pass)`` whole passes (at least one)
   over the workload's statements, each in a seeded order, so every run
   of a workload takes the same samples; each statement is timed from
   the front-door call until its DataFrame has been materialized to
   Spark's noop sink. Warm and timed passes run through the same loop,
   one statement at a time, and every write is mirrored into DuckDB;
4. in the last timed pass, after each read has been timed, fetches its
   DataFrame with toArrow and compares it with DuckDB; then checks the
   managed table's final contents against DuckDB (``sql_mixed``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of the traced run
(``tracer.py``), taken per pass. Details (box, versions, sample counts,
per-statement medians and layer figures, failures with their causes) go
to stderr as one ``perfbench-detail`` JSON line.

Nothing is written outside the checkout: data, Spark local dirs, the
warehouse, managed-table roots and temp files all live under
``.perfbench/``; the run's own directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MIN_TAIL_BEYOND = 10  # samples beyond the reported tail percentile

# per-layer figures summed per statement and reported per pass
PER_PASS = (
    "build.wall_s", "build.py4j_calls", "build.jobs", "plan.wall_s",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.failed_tasks", "exec.task_busy_s", "exec.input_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes",
    "catalog.load_table_calls", "sql.translate_calls", "pipeline.eager_jobs",
    "storage.bytes_written",
)
# layer time reported as a share of the traced pass: only one of the two
# workloads enters these layers
SHARES = {
    "catalog.load_table_pct": "catalog.load_table_s",
    "sql.translate_pct": "sql.translate_s",
    "pipeline.dedup_pct": "pipeline.dedup_s",
    "pipeline.similarity_pct": "pipeline.similarity_s",
    "storage.write_pct": "storage.write_s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Driver heap sized below the box: a quarter of RAM, 1g to 2g."""
    return f"{max(1, min(2, int(ram_gb() // 4)))}g"


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _driver_pids(jvm_pid: int | None) -> list[int]:
    return [os.getpid()] + ([jvm_pid] if jvm_pid else [])


def reset_rss_peak(jvm_pid: int | None) -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of this process and its JVM."""
    for p in _driver_pids(jvm_pid):
        with open(f"/proc/{p}/clear_refs", "w") as f:
            f.write("5")


def rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus its JVM since the last
    reset, from /proc."""
    return sum(_vm_hwm_kb(p) for p in _driver_pids(jvm_pid)) / 1024.0


def tail(samples: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest whole percentile with at least
    MIN_TAIL_BEYOND samples beyond it, interpolated as the median is; the
    median itself when there are too few samples for a higher one."""
    n = len(samples)
    pct = max(50, math.floor(100 * (1 - MIN_TAIL_BEYOND / n)))
    if n < 2:
        return samples[0], pct
    return statistics.quantiles(samples, n=100, method="inclusive")[pct - 1], pct


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def tree_bytes(root: str | None) -> int:
    if not root:
        return 0
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _d, fs in os.walk(root) for f in fs)


def versions(spark) -> dict:
    import duckdb
    import pyspark

    prop = spark.sparkContext._jvm.System.getProperty
    return {"spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "java": f"{prop('java.vendor')} {prop('java.version')}",
            "python": platform.python_version()}


def _err(e: BaseException) -> str:
    first = str(e).strip().splitlines()[0] if str(e).strip() else ""
    return f"{type(e).__name__}: {first}"[:300]


class Bench:
    def __init__(self, args, workload_cls, sf: float, run_dir: str, data_dir: str):
        self.args = args
        self.sf = sf
        self.workload_cls = workload_cls
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.nproc = nproc()
        self.mem = driver_memory()
        self.rng = random.Random(args.seed)
        self.spark = None
        self.workload = None
        self.jvm_pid = None
        self.failures: dict[str, str] = {}

    # -- session ---------------------------------------------------------------

    def _session(self):
        from myduckdb_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        return get_spark(
            "perfbench", cpus=self.nproc, driver_memory=self.mem,
            extra_conf={
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": " ".join([
                    # the heap starts at its maximum, so resident memory does
                    # not follow G1's heap-resizing heuristics between runs
                    f"-Xms{self.mem}",
                    f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]),
            },
        )

    def start(self) -> None:
        """A SparkSession from ``get_spark`` (the JVM starts here), every
        table registered as a view, and the workload with its own state."""
        from myduckdb_spark import sql as sql_mod
        from myduckdb_spark.catalog import register_views

        self.spark = self._session()
        register_views(self.spark, self.data_dir)
        self.workload = self.workload_cls(self.spark, self.data_dir)
        self.workload.setup(sql_mod)
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception as e:  # py4j raises various errors on a dead JVM
            print(f"perfbench: gateway shutdown: {_err(e)}", file=sys.stderr)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- correctness -------------------------------------------------------------

    def _fail(self, name: str, why: str) -> None:
        self.failures.setdefault(name, why)

    def _check(self, stmt, df, con) -> str | None:
        """None when the read's DataFrame fetched with toArrow matches
        DuckDB, else the reason."""
        from perfbench import oracle

        try:
            got = df.toArrow()
        except Exception as e:  # recorded as a failed statement
            return _err(e)
        try:
            return oracle.mismatch(got, stmt.oracle(con))
        except Exception as e:  # the reference itself failed
            return f"oracle: {_err(e)}"

    def final_check(self, con) -> None:
        """The managed table's contents after every write, against DuckDB."""
        from perfbench import oracle

        text = self.workload.final_state_sql()
        if text is None:
            return
        from myduckdb_spark import sql as sql_mod

        try:
            why = oracle.mismatch(sql_mod.sql(self.spark, text).toArrow(),
                                  con.execute(text).arrow())
        except Exception as e:  # recorded as a failure of the writes
            why = _err(e)
        if why:
            self._fail("table_final_state", why)

    # -- the closed loop -----------------------------------------------------------------

    def one_pass(self, con, tracer=None, check: bool = False) -> list[dict]:
        """One pass over the workload's statements in the seeded order, one
        at a time. Each statement is timed from the front-door call until
        its DataFrame has been written to the noop sink; after that, out of
        the timed region, a write is applied to the DuckDB mirror and, with
        ``check``, a read's DataFrame is fetched with toArrow and compared
        with DuckDB. Returns one record per statement."""
        out = []
        for stmt in self.workload.pass_statements(self.rng):
            root_before = tree_bytes(self.workload.table_root()) if tracer else 0
            if tracer is not None:
                tracer.begin()
            why = None
            t0 = time.perf_counter()
            try:
                df = stmt.run()
                if tracer is not None:
                    tracer.built(time.perf_counter() - t0)
                    tracer.plan(df)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # recorded as a failed statement
                why = _err(e)
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            rec = {"stmt": stmt, "latency_s": t2 - t0,
                   "fig": tracer.end(t2 - t1, t2 - t0) if tracer is not None else None}
            if why is None and stmt.kind == "write":
                m0 = time.perf_counter()
                changed = con.execute(stmt.duck_dml).fetchone()[0]
                rec["mirror_s"] = time.perf_counter() - m0
                if rec["fig"] is not None:
                    rec["fig"]["storage.changed_rows"] = changed
                    rec["fig"]["storage.bytes_written"] = (
                        tree_bytes(self.workload.table_root()) - root_before)
            elif why is None and check:
                why = self._check(stmt, df, con)
            if why:
                self._fail(stmt.name, why)
            out.append(rec)
        return out

    def timed(self, con, tracer=None) -> dict:
        """round(--seconds / the workload's nominal pass) whole passes, at
        least one, so every run of a workload has the same sample counts.
        The last pass also checks every read (``one_pass``), so the
        statements checked are the ones measured, after every write but
        those of the last pass. Per statement: the latency, and with a
        tracer its layer figures."""
        samples: dict[str, list[float]] = {}
        kinds: dict[str, str] = {}
        layers: dict[str, list[dict]] = {}
        mirror: list[float] = []
        passes: list[float] = []
        n = max(1, round(self.args.seconds / self.workload.nominal_pass_s))
        for i in range(n):
            recs = self.one_pass(con, tracer, check=i == n - 1)
            passes.append(sum(r["latency_s"] for r in recs))
            for r in recs:
                name = r["stmt"].name
                samples.setdefault(name, []).append(r["latency_s"])
                kinds[name] = r["stmt"].kind
                mirror.append(r.get("mirror_s", 0.0))
                if r["fig"] is not None:
                    layers.setdefault(name, []).append(r["fig"])
        return {"passes": passes, "samples": samples, "kinds": kinds,
                "layers": layers, "mirror_s": sum(mirror)}

    # -- the run -------------------------------------------------------------------------

    def run(self, gen_s: float) -> tuple[dict, dict]:
        from myduckdb_spark.catalog import TABLES

        from perfbench import oracle

        con = oracle.connect(self.data_dir, TABLES, self.nproc)
        # set-up: everything before the first timed statement
        t0 = time.perf_counter()
        self.start()
        session_s = time.perf_counter() - t0
        self.workload.duck_setup(con)
        w0 = time.perf_counter()
        self.one_pass(con)  # the warm pass
        warm_s = time.perf_counter() - w0
        setup_s = session_s + warm_s
        tracer = None
        if self.args.trace:
            from perfbench.tracer import Tracer

            tracer = Tracer(self.spark)
        reset_rss_peak(self.jvm_pid)
        try:
            t = self.timed(con, tracer)
        finally:
            if tracer is not None:
                tracer.close()
        rss_python = _vm_hwm_kb(os.getpid()) / 1024.0
        rss = rss_peak_mb(self.jvm_pid)
        self.final_check(con)

        samples, kinds, passes = t["samples"], t["kinds"], t["passes"]
        attempted = sum(len(v) for v in samples.values())
        failed = sum(len(v) for n, v in samples.items() if n in self.failures)
        if "table_final_state" in self.failures:
            failed += sum(len(v) for n, v in samples.items()
                          if kinds[n] == "write" and n not in self.failures)
        med = {n: statistics.median(v) for n, v in samples.items()}
        reads = [x for n, v in samples.items() if kinds[n] == "read" for x in v]
        writes = [x for n, v in samples.items() if kinds[n] == "write" for x in v]
        read_tail, read_pct = tail(reads)
        detail = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "sf": self.sf, "data_dir": os.path.relpath(self.data_dir, ROOT),
            "box": {"nproc": self.nproc, "ram_gb": round(ram_gb(), 1),
                    "driver_memory": self.mem, "master": f"local[{self.nproc}]",
                    "jvm_options": [f"-Xms{self.mem}"],
                    **versions(self.spark)},
            "datagen_s": gen_s,
            "setup_session_s": session_s,
            "warm_pass_s": warm_s,
            "pass_s_samples": passes,
            "statements": {n: {"kind": kinds[n], "n": len(v), "median_s": med[n],
                               "samples_s": v}
                           for n, v in samples.items()},
            "read_samples": len(reads), "read_tail_pct": read_pct,
            "write_samples": len(writes),
            "tolerance": {"rel": oracle.REL_TOL, "abs": oracle.ABS_TOL},
            "failures": self.failures,
            "rss_peak_python_mb": rss_python,
        }
        if writes:
            w_tail, w_pct = tail(writes)
            detail.update(write_p50_s=statistics.median(writes), write_tail_s=w_tail,
                          write_tail_pct=w_pct)
        if self.args.trace:
            metrics = self._layer_metrics(t, con, detail)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(passes), "s"),
                "query_geomean_s": (geomean(list(med.values())), "s"),
                "read_p50_s": (statistics.median(reads), "s"),
                "read_tail_s": (read_tail, "s"),
                "rss_peak_mb": (rss, "MB"),
            }
        result = {
            "correct": not self.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail

    def _layer_metrics(self, t: dict, con, detail: dict) -> dict:
        layers, passes = t["layers"], t["passes"]
        n_pass = len(passes)
        figs = [f for v in layers.values() for f in v]
        tot = lambda k: sum(f.get(k, 0) for f in figs)  # noqa: E731
        wall = sum(passes)
        m = {k: (tot(k) / n_pass, _unit(k)) for k in PER_PASS}
        m["exec.core_util"] = (tot("exec.task_busy_s") / (wall * self.nproc), "ratio")
        for k, src in SHARES.items():
            m[k] = (100.0 * tot(src) / wall, "%")
        changed = tot("storage.changed_rows")
        m["storage.bytes_per_changed_row"] = (
            tot("storage.bytes_written") / changed if changed else 0.0, "bytes")
        root = self.workload.table_root()
        live = self.workload.live_files()
        live_bytes = sum(os.path.getsize(p) for p in live)
        m["storage.files_live"] = (len(live), "count")
        m["storage.space_amp"] = (tree_bytes(root) / live_bytes if live_bytes else 0.0, "ratio")
        m["cache.persisted_mb"] = (max(f["cache.persisted_mb"] for f in figs), "MB")
        ref, ref_skipped = self._duckdb_pass(con, t)
        m["ref.duckdb_pass_s"] = (ref, "s")
        detail["traced_pass_s"] = statistics.median(passes)
        detail["ref_skipped"] = ref_skipped
        detail["layers"] = {
            n: {k: statistics.median(f.get(k, 0) for f in v) for k in sorted(v[0])}
            for n, v in layers.items()
        }
        return m

    def _duckdb_pass(self, con, t: dict) -> tuple[float, list[str]]:
        """Stock DuckDB on the same texts and data: each read's oracle once,
        plus the mean per-pass time of the mirrored writes."""
        total, skipped = 0.0, []
        for stmt in self.workload.reads():
            if not stmt.in_ref:
                skipped.append(stmt.name)
                continue
            t0 = time.perf_counter()
            stmt.oracle(con)
            total += time.perf_counter() - t0
        total += t["mirror_s"] / len(t["passes"])
        return total, skipped


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes") or key.endswith("bytes_written"):
        return "bytes"
    return "count"


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (smoke test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "myduckdb_spark", "__init__.py")):
        print("perfbench: the engine package myduckdb_spark/ is not next to "
              "perfbench/; run from the root of a checkout", file=sys.stderr)
        return 2

    from perfbench import datagen

    wl = WORKLOADS[args.workload]
    sf = args.sf or wl.sf
    data_dir = os.path.join(WORK, "data", f"sf{sf}")
    os.makedirs(WORK, exist_ok=True)
    gen_s = datagen.ensure(data_dir, sf)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.chdir(ROOT)

    bench = Bench(args, wl, sf, run_dir, data_dir)
    try:
        result, detail = bench.run(gen_s)
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench-detail " + json.dumps(detail, default=str), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
