"""Reference answers and result comparison.

Every statement's Spark result is compared with stock DuckDB running the
same (or the registered oracle) text over the same parquet files. The
comparison is order-insensitive: rows are sorted on a canonical key
before they are compared cell by cell.

Tolerance: floating-point cells match when ``math.isclose`` holds with
``REL_TOL``/``ABS_TOL``. The float-aggregate bench variants
(``queries/bench_variants.py``) sum plain doubles, whose low bits depend
on summation order, so exact equality would flag engine-correct answers.
Every other cell type (integers, strings, timestamps, NULL) must be equal.

The exact-Jaccard dedup answer is computed here in Python (all pairs of
character-3-gram sets) instead of by the registered O(n^2) DuckDB oracle,
once per data directory, and cached beside the data.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import math
import os

import duckdb
import pyarrow as pa

REL_TOL = 1e-9
ABS_TOL = 1e-9


def connect(data_dir: str, tables: list[str], threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, float):
            out.append((1, "nan" if math.isnan(v) else f"{v:.6g}"))
        else:
            out.append((2, repr(v)))
    return out


def canon(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """(column names, rows sorted canonically) with columns in name order."""
    names = sorted(table.column_names)
    cols = [[_cell(v) for v in table.column(n).to_pylist()] for n in names]
    rows = list(zip(*cols)) if cols else []
    rows.sort(key=_sort_key)
    return [n.lower() for n in names], rows


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            if math.isnan(a) or math.isnan(b):
                return math.isnan(a) and math.isnan(b)
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
        return a == b
    return a == b


def mismatch(got: pa.Table, want: pa.Table) -> str | None:
    """None when the two results agree, else a one-line reason."""
    gn, grows = canon(got)
    wn, wrows = canon(want)
    if gn != wn:
        return f"columns differ: {gn} vs {wn}"
    if len(grows) != len(wrows):
        return f"row count {len(grows)} vs {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        for name, x, y in zip(gn, g, w):
            if not _same(x, y):
                return f"row {i} column {name}: {x!r} vs {y!r}"
    return None


def exact_jaccard_pairs(data_dir: str, threshold: float = 0.7) -> pa.Table:
    """All document pairs whose character-3-gram Jaccard is >= threshold,
    as (id_a, id_b, jacc rounded to 6 places). Cached in the data dir."""
    cache = os.path.join(data_dir, f"expected_jaccard_{threshold}.json")
    try:
        with open(cache) as f:
            rows = json.load(f)
    except (OSError, ValueError):
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pylist()
        sh = [(d["doc_id"], {d["text"][i:i + 3] for i in range(len(d["text"]) - 2)})
              for d in docs]
        rows = []
        for i, (ia, a) in enumerate(sh):
            for ib, b in sh[i + 1:]:
                union = len(a | b)
                jac = len(a & b) / union if union else 0.0
                if jac >= threshold:
                    lo, hi = min(ia, ib), max(ia, ib)
                    rows.append([lo, hi, round(jac, 6)])
        rows.sort()
        tmp = cache + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, cache)
    return pa.table({
        "id_a": pa.array([r[0] for r in rows], pa.int64()),
        "id_b": pa.array([r[1] for r in rows], pa.int64()),
        "jacc": pa.array([float(r[2]) for r in rows], pa.float64()),
    })
