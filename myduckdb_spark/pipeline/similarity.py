"""Similarity search over embedding columns (array<float>).

Two paths, same output contract (probe_id, neighbor_id, cos_sim, rank):

* ``brute_force_topk`` — exact: probe × corpus dot products, per-probe
  top-k via window. O(P·N); correct baseline, fine when P is small or N
  fits a broadcast.
* ``lsh_bucketed_topk`` — scale path: random-hyperplane signatures bucket
  the corpus (one shuffle on bucket key); probes only score their bucket
  (and optional multi-probe neighbors). Approximate, tunable recall.

Dot-product scoring has two output-identical kernels: pure JVM
expressions (zip_with + aggregate) for small pair counts, and an
Arrow-batched numpy kernel (guide §4.2) that computes the SAME
scaled-integer dots bit-for-bit once the expected pair count crosses
`_NUMPY_SCORE_MIN_PAIRS` (the interpreted HOF is ~1M element-ops/s/core;
numpy is two orders faster on whole batches). A legacy float-matmul
variant (`numpy_topk_per_partition`) remains for wide vectors where
bit-parity with the SQL formulation is not required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myduckdb_spark.pipeline.dedup import dot_dec_expr, norm_sq_dec_expr


def dot_scaled_long_expr(a: str, b: str) -> F.Column:
    """Pair-level exact dot product of two float-array columns.

    Per-element products round to SCALED BIGINTs (round(x·y·1e15) — the
    same long in both engines while |scaled| < 2^53) and integer-sum via
    zip_with + aggregate: order-independent, so engine-reproducible.
    Mirrors the oracle's `_DOT_LONG_SQL` (queries/pipeline_ops.py) term
    for term. The HOF is interpreted (no codegen), but it is ONE eval per
    pair row with no ×dim row blowup: measured 2× faster end-to-end than
    the explode→broadcast-join-on-dim→codegen-sum formulation at sf0.1
    (0.45s vs 0.95s full query), identical output. Requires equal-length
    vectors (zip_with NULL-pads otherwise; ANN cosine assumes one dim)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e15) AS BIGINT)), "
        "0L, (acc, v) -> acc + v) / 1e15"
    )


# Probe-count cap for the Arrow/numpy scoring path: probes are collected
# to the driver and broadcast as one float64 matrix (cap·dim·8 bytes —
# 64 dims → 32 MB at the cap). Above it (or on an exotic corpus the
# vectorized kernel cannot score bit-exactly) the pure-JVM HOF path runs.
_NUMPY_SCORE_MAX_PROBES = int(
    __import__("os").environ.get("SPARK_GRAFT_TOPK_NUMPY_MAX_PROBES", "65536")
)
# ... and a FLOOR on the expected pair count: the numpy path pays a fixed
# ~0.3-0.5s (probe-collect job + Python worker spin-up + Arrow traffic),
# so tiny workloads keep the JVM HOF (measured at dim 64: 80k pairs →
# HOF wins 0.62s vs 0.97s; 8M pairs → numpy wins 2.7s vs 17.0s; the
# compute crossover is ~200k pairs — 500k adds margin for cold workers).
# Callers pass the corpus row count from parquet footers; without a hint
# the pair count is unknown and the JVM path (prior behaviour) runs.
_NUMPY_SCORE_MIN_PAIRS = int(
    __import__("os").environ.get("SPARK_GRAFT_TOPK_NUMPY_MIN_PAIRS", "500000")
)


def _numpy_pair_dots(c: DataFrame, probe_rows, dim: int) -> DataFrame:
    """All (corpus row × probe) scaled-integer dot products, computed by
    numpy on whole Arrow batches (guide §4.2) — BIT-IDENTICAL to
    `dot_scaled_long_expr`: per element, (x·y) then ·1e15 are the same
    two IEEE float64 ops; the HALF_UP rounding matches Spark's (argued
    at the rounding loop in `score`); the int64 per-pair sum is the same
    exact long arithmetic. Division by the norms and the final
    round(·, 6) stay in the JVM so every downstream float op is
    byte-for-byte the old plan."""
    import numpy as np

    pid = np.asarray([r["probe_id"] for r in probe_rows], dtype=np.int64)
    pm = np.asarray([r["pv"] for r in probe_rows], dtype=np.float64)
    pn = np.asarray([r["p_norm"] for r in probe_rows], dtype=np.float64)
    bc = c.sparkSession.sparkContext.broadcast((pid, pm, pn))

    def score(batches):
        import pyarrow as pa

        b_pid, b_pm, b_pn = bc.value
        p_cnt, d = b_pm.shape
        # (rows, P) working set — loop over the dim axis with small 2-D
        # temporaries instead of one (rows, P, dim) tensor: same exact
        # arithmetic, ~d× smaller allocations (32 concurrent workers
        # thrash the allocator on 60 MB+ temporaries — measured 47s vs
        # ~3s for the identical math)
        chunk = max(1, (8 << 20) // max(1, p_cnt * 8))
        pm_t = np.ascontiguousarray(b_pm.T)  # (dim, P) for row slices
        for batch in batches:
            nid = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            emb = batch.column(1)
            cn = batch.column(2).to_numpy(zero_copy_only=False).astype(np.float64)
            lens = np.diff(emb.offsets.to_numpy(zero_copy_only=False))
            if emb.null_count or (lens != d).any():
                # ragged/null vectors: zip_with would NULL-pad → NULL dot;
                # such corpora take the JVM path (builders gate on shape),
                # so refuse loudly rather than silently diverge
                raise ValueError("numpy scoring path requires dense fixed-dim vectors")
            cm = np.asarray(emb.flatten().to_numpy(zero_copy_only=False),
                            dtype=np.float64).reshape(len(nid), d)
            for lo in range(0, len(nid), chunk):
                cc = cm[lo:lo + chunk]
                b = len(cc)
                dots = np.zeros((b, p_cnt), dtype=np.int64)
                t = np.empty((b, p_cnt), dtype=np.float64)
                fl = np.empty_like(t)
                for j in range(d):
                    # (x·y)·1e15 — the same two IEEE ops as the JVM HOF
                    np.multiply(cc[:, j:j + 1], pm_t[j][None, :], out=t)
                    np.multiply(t, 1e15, out=t)
                    # round(t) → BIGINT as Spark computes it: HALF_UP on
                    # BigDecimal(Double.toString(t)). For |t| < 2^52 every
                    # half-integer X.5 is exactly representable, so the
                    # shortest decimal repr of t crosses an X.5 boundary
                    # iff t itself does — HALF_UP on the string equals
                    # HALF_UP on the binary value, computed exactly below:
                    # frac = |t| - floor(|t|) is an exact float op, and the
                    # away-from-zero tie goes up on frac >= 0.5
                    neg = t < 0
                    np.abs(t, out=t)
                    np.floor(t, out=fl)
                    np.subtract(t, fl, out=t)          # exact frac
                    fl += t >= 0.5                     # HALF_UP, away from 0
                    np.negative(fl, where=neg, out=fl)
                    dots += fl.astype(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.tile(b_pid, b), type=pa.int64()),
                        pa.array(np.repeat(nid[lo:lo + chunk], p_cnt), type=pa.int64()),
                        pa.array(dots.reshape(-1), type=pa.int64()),
                        pa.array(np.tile(b_pn, b), type=pa.float64()),
                        pa.array(np.repeat(cn[lo:lo + chunk], p_cnt), type=pa.float64()),
                    ],
                    names=["probe_id", "neighbor_id", "dot", "p_norm", "c_norm"],
                )

    return c.mapInArrow(
        score,
        schema="probe_id long, neighbor_id long, dot long, p_norm double, c_norm double",
    )


def brute_force_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_corpus_hint: int | None = None,
    n_probes_hint: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe (excluding self).

    The P·N dot products run PAIR-level — no ×dim explode, no P·N·dim
    join+aggregate. Two physically different, output-identical scoring
    kernels:

    * numpy path (when the caller's `n_corpus_hint` — a parquet-footer
      row count — promises ≥ `_NUMPY_SCORE_MIN_PAIRS` pairs and the probe
      set fits the driver cap): one `mapInArrow` over the corpus computes
      the scaled-integer dots as whole-batch matrix math (guide §4.2 —
      the interpreted zip_with HOF was ~95% of the sf1 query: 14-16s of
      16s measured; numpy does the same 0.5G float ops in well under a
      second). Bit-equality with the HOF argued at `_numpy_pair_dots`
      and asserted by test_pipeline.
    * JVM HOF path (small workloads / no hint / over the probe cap /
      fixed-dim violation): the r9 corpus × broadcast(probes) nested
      loop with one interpreted zip_with/aggregate dot per pair.

    Norms are decimal-exact per VECTOR (P+N HOF evals, not P·N) on both
    paths; the norm division, round(·, 6) and the top-k window are the
    same JVM operators either way."""
    par = corpus.sparkSession.sparkContext.defaultParallelism
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pv"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("p_norm"),
    )
    c = corpus.repartition(par).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("c_norm"),
    )
    # the probe collect is itself a job — only pay it when BOTH hints
    # promise the numpy path will be taken (small workloads skip straight
    # to the JVM HOF with zero extra jobs, the r9 plan exactly)
    want_numpy = (
        n_corpus_hint is not None
        and n_probes_hint is not None
        and 0 < n_probes_hint <= _NUMPY_SCORE_MAX_PROBES
        and n_probes_hint * n_corpus_hint >= _NUMPY_SCORE_MIN_PAIRS
    )
    probe_rows = p.limit(_NUMPY_SCORE_MAX_PROBES + 1).collect() if want_numpy else []
    dims = {len(r["pv"]) for r in probe_rows if r["pv"] is not None}
    if (
        0 < len(probe_rows) <= _NUMPY_SCORE_MAX_PROBES
        and len(probe_rows) * (n_corpus_hint or 0) >= _NUMPY_SCORE_MIN_PAIRS
        and len(dims) == 1
        and all(r["pv"] is not None and r["p_norm"] is not None for r in probe_rows)
    ):
        pairs = _numpy_pair_dots(c, probe_rows, dim=next(iter(dims)))
        scored = (
            pairs.filter(F.col("probe_id") != F.col("neighbor_id"))
            .select(
                "probe_id",
                "neighbor_id",
                F.round(
                    (F.col("dot") / F.lit(1e15))
                    / (F.col("p_norm") * F.col("c_norm")),
                    6,
                ).alias("cos_sim"),
            )
        )
    else:
        scored = (
            c.crossJoin(F.broadcast(p))
            .filter(F.col("probe_id") != F.col("neighbor_id"))
            .select(
                "probe_id",
                "neighbor_id",
                F.round(
                    dot_scaled_long_expr("pv", "cv")
                    / (F.col("p_norm") * F.col("c_norm")),
                    6,
                ).alias("cos_sim"),
            )
        )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_signature(vec_col: str, planes: int = 16, dim: int = 64, seed: int = 42) -> F.Column:
    """Random-hyperplane LSH signature as a packed BIGINT: bit p = sign of
    <v, h_p> where h_p's components are ±1 derived from xxhash64(seed,p,i)
    — deterministic, computed JVM-side, no stored model."""
    return F.expr(
        f"""
        aggregate(
          transform(sequence(0, {planes - 1}), p ->
            CASE WHEN aggregate(
              zip_with({vec_col}, sequence(0, {dim - 1}), (x, i) ->
                CASE WHEN (xxhash64({seed}, p, i) & 1) = 1
                     THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END),
              CAST(0 AS DOUBLE), (acc, v) -> acc + v) > 0
            THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT), (acc, v) -> acc | v)
        """
    )


def lsh_bucketed_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    dim: int = 64,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k: equi-join probe and corpus on hyperplane
    buckets, score ONLY the candidate pairs, window top-k.

    Scale design (the 100 TB path — brute force is P·N dot products):

    * The bucket self-join carries ONLY ids — never vectors. A vector
      payload through the bucket join multiplies the shuffle by the
      candidate fan-out (measured 30×/100× on this repo's other pair
      pipelines before the same fix).
    * Candidate scoring is the same pair-level formulation as
      ``brute_force_topk``: attach the corpus vector once per candidate
      (one shuffle on neighbor_id), broadcast-join the probe vectors on
      probe_id, and evaluate one zip_with/aggregate dot per pair
      (`dot_scaled_long_expr`) — no ×dim explode through the join.
    * Recall is tuned by OR-amplification: ``tables`` independent
      hyperplane sets (seeded xxhash64, no stored model) union their
      candidates. P(candidate) = 1-(1-p^planes)^tables for per-plane
      agreement p — more tables → higher recall, proportionally more
      candidates; fewer planes → bigger buckets. Measure with
      ``recall_at_k`` (registered as the sim_lsh_recall query).
    """
    par = probes.sparkSession.sparkContext.defaultParallelism

    def sigs(df: DataFrame, idn: str) -> DataFrame:
        tbl = [
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_signature(vec_col, planes, dim, seed=42 + 7 * t).alias("sig"),
            )
            for t in range(tables)
        ]
        return df.select(
            F.col(id_col).alias(idn), F.explode(F.array(*tbl)).alias("b")
        ).select(idn, F.col("b.tbl").alias("tbl"), F.col("b.sig").alias("sig"))

    p_sig = sigs(probes.repartition(par), "probe_id")
    c_sig = sigs(corpus.repartition(par), "neighbor_id")
    cands = (
        p_sig.join(c_sig, ["tbl", "sig"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id")
    )
    if tables > 1:  # a pair colliding in several tables must score once
        cands = cands.dropDuplicates(["probe_id", "neighbor_id"])

    # norms ride along the vector rows (one decimal-exact eval per
    # vector); scoring is one pair-level interpreted dot per candidate —
    # see dot_scaled_long_expr for the measured case against the ×dim
    # explode+join+aggregate formulation.
    pvec = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pv"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("p_norm"),
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("c_norm"),
    )
    scored = (
        cands.join(cvec, "neighbor_id")
        .join(F.broadcast(pvec), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                dot_scaled_long_expr("pv", "cv")
                / (F.col("p_norm") * F.col("c_norm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 5) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one:
    |approx ∩ exact| / |exact| over (probe_id, neighbor_id) pairs with
    rank ≤ k. One row: (k, n_probes, n_exact, n_hit, recall)."""
    a = approx.filter(F.col("rank") <= k).select("probe_id", "neighbor_id")
    e = exact.filter(F.col("rank") <= k).select("probe_id", "neighbor_id")
    hit = e.join(a, ["probe_id", "neighbor_id"], "semi")
    return e.agg(
        F.lit(k).alias("k"),
        F.countDistinct("probe_id").alias("n_probes"),
        F.count(F.lit(1)).alias("n_exact"),
    ).crossJoin(
        hit.agg(F.count(F.lit(1)).alias("n_hit"))
    ).select(
        "k",
        "n_probes",
        "n_exact",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
    )


def numpy_topk_per_partition(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched exact top-k: the corpus is broadcast as a numpy
    matrix; each probe partition computes a matmul per Arrow batch.
    The Pandas-UDF escape hatch for wide vectors where per-element
    SQL expressions dominate."""
    import numpy as np

    corpus_rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in corpus_rows], dtype=np.int64)
    mat = np.array([r[1] for r in corpus_rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    sc = probes.sparkSession.sparkContext
    b_ids, b_mat, b_norms = sc.broadcast(ids), sc.broadcast(mat), sc.broadcast(norms)

    def score(iterator):
        import pandas as pd

        for pdf in iterator:
            out = []
            for pid, vec in zip(pdf[id_col], pdf[vec_col]):
                v = np.asarray(vec, dtype=np.float64)
                sims = (b_mat.value @ v) / (b_norms.value * np.linalg.norm(v) + 1e-300)
                mask = b_ids.value != pid
                cand_idx = np.argsort(-sims[mask])[:k]
                cids = b_ids.value[mask][cand_idx]
                csims = sims[mask][cand_idx]
                for rank, (nid, s) in enumerate(zip(cids, csims), 1):
                    out.append((pid, int(nid), round(float(s), 6), rank))
            yield pd.DataFrame(out, columns=["probe_id", "neighbor_id", "cos_sim", "rank"])

    return probes.select(id_col, vec_col).mapInPandas(
        score, schema="probe_id long, neighbor_id long, cos_sim double, rank int"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the clustered-corpus scale path.
# ---------------------------------------------------------------------------

def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 8,
    sample_cap: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
):
    """Train the coarse quantizer: k-means on a BOUNDED corpus sample.

    Sample-based training is the standard IVF recipe (train on a bounded
    subset, assign the full corpus distributed) — the driver-side numpy
    work is O(sample_cap·dim·iters) regardless of corpus size, so this
    holds at 100 TB; only assignment and search are distributed."""
    import numpy as np

    n = corpus.count()
    frac = min(1.0, sample_cap / max(n, 1))
    rows = corpus.select(vec_col).sample(fraction=frac, seed=seed).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-300)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)  # cosine on normalized
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cents[c] = v / (np.linalg.norm(v) + 1e-300)
    return cents


def _nearest_lists(df: DataFrame, cents, idn: str, vec_col: str, nprobe: int) -> DataFrame:
    """Attach the ``nprobe`` nearest centroid ids per vector — centroids
    are a broadcast literal array; scoring is a codegen expression, no
    Python in the distributed path."""
    k = len(cents)
    cent_lits = F.array(
        *[
            F.struct(
                F.lit(c).alias("list_id"),
                F.array(*[F.lit(float(v)) for v in cents[c]]).alias("cv"),
            )
            for c in range(k)
        ]
    )
    scored = F.expr(
        f"""
        slice(
          array_sort(
            transform(__cents, c -> struct(
              -aggregate(zip_with({vec_col}, c.cv, (x, y) -> CAST(x AS DOUBLE) * y),
                         CAST(0 AS DOUBLE), (a, v) -> a + v) AS negdot,
              c.list_id AS list_id)),
            (a, b) -> CASE WHEN a.negdot < b.negdot THEN -1
                           WHEN a.negdot > b.negdot THEN 1
                           WHEN a.list_id < b.list_id THEN -1 ELSE 1 END),
          1, {nprobe})
        """
    )
    id_src = df.columns[0]
    return (
        df.withColumn("__cents", cent_lits)
        .withColumn("__near", scored)
        .select(id_src, F.explode("__near").alias("__n"))
        .select(F.col(id_src).alias(idn), F.col("__n.list_id").alias("list_id"))
    )


def ivf_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are assigned to their nearest
    centroid's inverted list (1 list each); each probe searches its
    ``nprobe`` nearest lists only. Candidates carry ids; scoring reuses
    the pair-level scaled-long dot of ``lsh_bucketed_topk``. Candidate
    fraction ≈ nprobe/n_centroids of the corpus per probe on clustered
    data — the sublinear path when locality exists (LSH with coarse
    buckets covers the near-random regime)."""
    cents = ivf_train_centroids(corpus, n_centroids, id_col=id_col, vec_col=vec_col)
    c_assign = _nearest_lists(
        corpus.select(F.col(id_col), F.col(vec_col)), cents, "neighbor_id", vec_col, 1
    )
    p_assign = _nearest_lists(
        probes.select(F.col(id_col), F.col(vec_col)), cents, "probe_id", vec_col, nprobe
    )
    cands = (
        p_assign.join(c_assign, "list_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    # norms ride along the vector rows; scoring is one pair-level
    # interpreted dot per candidate — see dot_scaled_long_expr.
    pvec = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pv"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("p_norm"),
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.sqrt(norm_sq_dec_expr(vec_col)).alias("c_norm"),
    )
    scored = (
        cands.join(cvec, "neighbor_id")
        .join(F.broadcast(pvec), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                dot_scaled_long_expr("pv", "cv")
                / (F.col("p_norm") * F.col("c_norm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
