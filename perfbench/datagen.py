"""Deterministic synthetic tables for the benchmark.

Writes the ten catalog tables (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) as one parquet file each, with the
column names, types and value distributions of the engine's test data.
Row counts scale with ``sf``: ``orders`` has 1.5M * sf rows, as in TPC-H.

The data seed is fixed, so every run of every workload reads the same
tables; the workload seed only orders statements and picks DML
parameters. A directory is reused when its manifest matches the
requested scale and the per-table row counts; anything else is
regenerated from scratch.

Usage: python3 perfbench/datagen.py <sf> <out_dir>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT = 2  # bump when the generator's output changes

_WORDS = (
    "a the join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window spark "
    "part group big sort query fast"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    n = lambda base, lo=1: max(lo, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 15),
        "supplier": n(10_000, 10),
        "part": n(200_000, 20),
        "orders": n(1_500_000, 150),
        "lineitem": n(6_000_000, 600),
        "events": n(1_000_000, 100),
        "documents": max(100, min(5_000, n(50_000))),
        "embeddings": max(100, min(5_000, n(50_000))),
    }


def _ts(rng, n, start: str, days: int, seconds: bool = False) -> pa.Array:
    base = np.datetime64(start, "us")
    if seconds:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    else:
        off = (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.06:
            # near duplicate of an earlier document: same words + a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and rng.random() < 0.005:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.17, 0.45, 0.13, 0.1, 0.15]).tolist(),
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """Every table at scale ``sf`` (deterministic for a given sf)."""
    rows = row_counts(sf)
    rng = np.random.default_rng(DATA_SEED)
    i32, i64 = pa.int32(), pa.int64()
    nc, ns, npart, no, nl, ne = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    retail = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": retail,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(rng, no, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, no).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(rng, nl, "1995-01-02", 2498),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        # nanosecond unit, as the engine's events data is stored
        # (TIMESTAMP(NANOS), converted in catalog.load_table)
        "ts": pa.array(np.sort(np.asarray(_ts(rng, ne, "2024-01-01", 30, seconds=True))),
                       pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 67), ne), i64),
        "event_type": rng.choice(_EVENTS, ne).tolist(),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def _manifest_ok(out_dir: str, sf: float) -> bool:
    try:
        with open(os.path.join(out_dir, "manifest.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return False
    if m.get("sf") != sf or m.get("format") != FORMAT or m.get("seed") != DATA_SEED:
        return False
    for name, n in row_counts(sf).items():
        try:
            got = pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet")).metadata.num_rows
        except OSError:
            return False
        if got != n:
            return False
    return True


def ensure(out_dir: str, sf: float) -> float:
    """Make sure ``out_dir`` holds the tables for ``sf``; return the
    seconds spent generating (0.0 when the existing data was reused)."""
    if _manifest_ok(out_dir, sf):
        return 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"sf": sf, "format": FORMAT, "seed": DATA_SEED, "rows": row_counts(sf)}, f)
    os.rename(tmp, out_dir)
    return time.perf_counter() - t0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: datagen.py <sf> <out_dir>")
    secs = ensure(sys.argv[2], float(sys.argv[1]))
    print(f"{'generated' if secs else 'reused'} {sys.argv[2]} in {secs:.2f}s")
