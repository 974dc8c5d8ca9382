"""Per-layer tracing for the traced run (``--trace 1``).

Everything here lives in the benchmark: the engine is not modified. The
tracer wraps the engine's public functions where they are bound (every
``myduckdb_spark`` module that imported them by name), counts the py4j
commands Python sends to the JVM, tags each statement's Spark jobs with a job
group, and after each statement reads job, stage and task figures from
``statusTracker()`` and the application status store, which Spark keeps
with the UI disabled.

Spans are kept in memory per statement and summed by the caller; nothing
is written until the run ends. The tracer's own py4j traffic is excluded
from the py4j count.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict

# (module, attribute) -> span name; functions are wrapped wherever bound
FUNCTION_SPANS = {
    ("myduckdb_spark.catalog", "load_table"): "catalog.load_table",
    ("myduckdb_spark.sql", "translate"): "sql.translate",
    ("myduckdb_spark.pipeline.dedup", "minhash_lsh_pairs"): "pipeline.dedup",
    ("myduckdb_spark.pipeline.similarity", "brute_force_topk"): "pipeline.similarity",
}
# ManagedTable write methods -> one "storage.write" span
STORAGE_METHODS = ("insert", "update", "delete")
# spans whose Spark jobs are counted as eager (launched inside the call)
EAGER_SPANS = ("pipeline.dedup", "pipeline.similarity")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.client = self.sc._gateway._gateway_client
        self._own = 0  # >0 while the tracer itself talks to the JVM
        self._py4j = 0
        self._stack: list[str] = []
        self.stmt: dict | None = None
        self._group = None
        self._seq = 0
        self._restore: list = []
        self._install()

    # -- installation ------------------------------------------------------

    def _install(self) -> None:
        orig_send = self.client.send_command

        @functools.wraps(orig_send)
        def send_command(*a, **kw):
            if not self._own:
                self._py4j += 1
            return orig_send(*a, **kw)

        self.client.send_command = send_command
        self._restore.append(lambda: delattr(self.client, "send_command"))

        for (mod, attr), span in FUNCTION_SPANS.items():
            orig = getattr(sys.modules[mod], attr)
            wrapped = self._wrap(orig, span)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if not name.startswith("myduckdb_spark"):
                    continue
                if getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)
                    self._restore.append(functools.partial(setattr, m, attr, orig))

        from myduckdb_spark.storage import ManagedTable

        for meth in STORAGE_METHODS:
            orig = getattr(ManagedTable, meth)
            setattr(ManagedTable, meth, self._wrap(orig, "storage.write"))
            self._restore.append(functools.partial(setattr, ManagedTable, meth, orig))

    def close(self) -> None:
        for undo in reversed(self._restore):
            undo()
        self._restore.clear()

    def _wrap(self, fn, span: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if self.stmt is None:
                return fn(*a, **kw)
            jobs0 = self._job_count() if span in EAGER_SPANS else 0
            self._stack.append(span)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                self._stack.pop()
                if span not in self._stack:  # count recursion once
                    self.stmt[f"{span}_s"] += dt
                self.stmt[f"{span}_calls"] += 1
                if span in EAGER_SPANS:
                    self.stmt["pipeline.eager_jobs"] += self._job_count() - jobs0

        return traced

    # -- JVM-side figures ---------------------------------------------------

    def _job_ids(self) -> list[int]:
        self._own += 1
        try:
            return list(self.sc.statusTracker().getJobIdsForGroup(self._group))
        finally:
            self._own -= 1

    def _job_count(self) -> int:
        return len(self._job_ids())

    def _cached_mb(self) -> float:
        self._own += 1
        try:
            return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo()) / 2**20
        finally:
            self._own -= 1

    def _stage_figures(self, job_ids) -> dict:
        out = defaultdict(float)
        self._own += 1
        try:
            self.jsc.listenerBus().waitUntilEmpty()
            store = self.jsc.statusStore()
            tracker = self.sc.statusTracker()
            seen = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # py4j error: stage evicted from the store
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["exec.failed_tasks"] += st.numFailedTasks()
                    out["exec.task_busy_s"] += st.executorRunTime() / 1000.0
                    out["exec.input_bytes"] += st.inputBytes()
                    out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        finally:
            self._own -= 1
        return out

    # -- statement lifecycle -------------------------------------------------

    def begin(self) -> None:
        self._seq += 1
        self._group = f"perfbench-{os.getpid()}-{self._seq}"
        self._own += 1
        try:
            self.sc.setJobGroup(self._group, "perfbench statement")
        finally:
            self._own -= 1
        self.stmt = defaultdict(float)
        self._py4j = 0

    def built(self, wall_s: float) -> None:
        """The front door returned a DataFrame after ``wall_s``."""
        self.stmt["build.wall_s"] = wall_s
        self.stmt["build.py4j_calls"] = self._py4j
        self.stmt["_build_jobs"] = set(self._job_ids())
        self.stmt["build.jobs"] = len(self.stmt["_build_jobs"])

    def plan(self, df) -> None:
        """Time Catalyst until the executed plan exists."""
        t0 = time.perf_counter()
        self._own += 1
        try:
            df._jdf.queryExecution().executedPlan()
        finally:
            self._own -= 1
        self.stmt["plan.wall_s"] = time.perf_counter() - t0

    def end(self, exec_s: float, wall_s: float) -> dict:
        """Close the statement; return its figures."""
        s = self.stmt
        self.stmt = None
        all_jobs = self._job_ids()
        build_jobs = s.pop("_build_jobs", set())
        s["exec.wall_s"] = exec_s
        s["wall_s"] = wall_s
        s["exec.jobs"] = len([j for j in all_jobs if j not in build_jobs])
        s.update(self._stage_figures(all_jobs))
        s["cache.persisted_mb"] = self._cached_mb()
        self._own += 1
        try:
            self.sc._jsc.clearJobGroup()
        finally:
            self._own -= 1
        return dict(s)
