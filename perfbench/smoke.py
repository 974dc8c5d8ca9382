"""Smoke test of the benchmark itself.

Runs every workload once untraced and once traced on sf0.001 data with a
one-pass budget, and checks that

* the last stdout line is the result object, with every metric named in
  BENCHMARK.json (end-to-end untraced, per-layer traced) and its unit;
* every statement returned the right answer (``failed`` is 0, so the
  failure fraction is 0);
* the working tree outside the benchmark's ignored ``.perfbench/`` work
  directory is unchanged afterwards.

It also reports the tracing overhead per workload: traced minus untraced
``pass_s``. Exits non-zero on the first failed check.

Usage (from the root of a checkout): python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {".git", ".perfbench", "__pycache__"}


def tree_snapshot() -> dict[str, tuple[int, int]]:
    snap = {}
    for dp, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS]
        for f in files:
            p = os.path.join(dp, f)
            st = os.lstat(p)
            snap[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return snap


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    detail = next(json.loads(line.split(" ", 1)[1]) for line in p.stderr.splitlines()
                  if line.startswith("perfbench-detail "))
    return result, detail


def check(result: dict, expected: list[dict], label: str) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{label}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        raise SystemExit(f"{label}: correct={result['correct']} failed={result['failed']} "
                         f"attempted={result['attempted']}")
    got = result["metrics"]
    for m in expected:
        if m["name"] not in got:
            raise SystemExit(f"{label}: metric {m['name']} missing")
        if got[m["name"]]["unit"] != m["unit"]:
            raise SystemExit(f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
        if not isinstance(got[m["name"]]["value"], (int, float)):
            raise SystemExit(f"{label}: {m['name']} value is not a number")
    extra = set(got) - {m["name"] for m in expected}
    if extra:
        raise SystemExit(f"{label}: unexpected metrics {sorted(extra)}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    before = tree_snapshot()
    for w in (w["name"] for w in spec["workloads"]):
        plain, _ = run(w, 0)
        check(plain, spec["end_to_end"], f"{w} untraced")
        traced, traced_detail = run(w, 1)
        check(traced, spec["per_layer"], f"{w} traced")
        overhead = traced_detail["traced_pass_s"] - plain["metrics"]["pass_s"]["value"]
        print(f"{w}: ok; tracing overhead {overhead:+.3f} s per pass "
              f"(traced {traced_detail['traced_pass_s']:.3f} s, "
              f"untraced {plain['metrics']['pass_s']['value']:.3f} s)", flush=True)
    after = tree_snapshot()
    changed = sorted(p for p in before.keys() | after.keys() if before.get(p) != after.get(p))
    if changed:
        raise SystemExit(f"working tree changed: {changed[:20]}")
    print("working tree unchanged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
