"""Learned quality filter: closed-form ridge linear probe over embeddings.

The curation-pipeline shape popularized by fasttext-style quality
classifiers (train a cheap linear model on labeled examples, score the
whole corpus, gate on the score): here as a *linear probe* over the
embedding column — ridge regression against a binary label, solved in
closed form from one distributed pass.

Scale shape (the reason this is one pass, not SGD):
- **fit**: the normal-equation statistics ``G = XᵀX`` and ``b = Xᵀy``
  over the (d+1)-augmented features (bias column of ones) are computed
  by ONE ``mapInPandas`` sweep — each Arrow batch emits its
  (d+1)(d+2)/2 + (d+1) partial integer sums as rows, and a single
  ``groupBy(j, k)`` merges them. Shuffle volume is
  ``n_batches × O(d²)`` rows — metadata-sized — and the model state is
  a (d+1)² matrix on the driver. At 100 TB this is exactly the
  distributed-ridge recipe: one corpus scan, no iterations, no
  parameter server.
- **score**: ``w·x + w_bias`` as an unrolled left-assoc codegen
  expression (the PQ/ADC lesson: explicit arithmetic runs in
  whole-stage codegen, higher-order folds do not) — narrow projection,
  zero shuffle.

Determinism / oracle parity (same trick as ``graph.py``'s PageRank):
floating-point addition is not associative, so raw double Gram sums
would depend on partitioning. Every per-row term is therefore QUANTIZED
to integer micro-units — ``floor((x_j * x_k) * 1e12)`` — before
summing; integer sums are exact and order-independent on any
partitioning/engine (merged as DECIMAL(38,0), overflow-safe far past
BIGINT). The solve is a pure-Python Gaussian elimination with partial
pivoting — bit-identical across processes, no BLAS/LAPACK build
dependence — so the oracle emitter re-derives the identical weight
vector from the parquet with the same numpy+Python code and the SQL
verifies the distributed scoring pass against embedded literals.

The quantization under-counts each term by < 1e-12 — noise relative to
the ridge regularizer — and buys bit-exact reproducibility, which
audit-grade re-runs of a 100 TB scoring job want anyway.

Reference scope note: no ML surface exists in the reference repo; this
extends the engine per the driver brief (training-data pipeline:
quality scoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round as _floor_round)

_QUANT = 1.0e12


def quantized_gram_np(X, y):
    """(G_int, b_int): exact integer normal-equation sums of the
    AUGMENTED design matrix (bias column appended). Per-row terms are
    ``floor((x_j * x_k) * 1e12)`` / ``floor((x_j * y) * 1e12)`` in IEEE
    double (engine-identical); sums are Python ints (exact at any n).
    """
    import numpy as np

    Xa = np.concatenate([X, np.ones((X.shape[0], 1))], axis=1)
    D = Xa.shape[1]
    # Overflow discipline: a per-row term is bounded by M²·1e12 for
    # M = max|x'| — the guard accepts M up to sqrt(2^62/1e12) ≈ 2.1e3
    # (conservative: a lone term wraps int64 only past ~3e3), LOUDLY
    # (a silent wrap would corrupt the weights identically on both
    # engines, invisible to the oracle). Rows accumulate in chunks
    # sized so each chunk's int64 sum cannot wrap; chunk partials
    # merge as Python ints (exact). The chunking also bounds the
    # einsum tensor to ~chunk×(d+1)² doubles — tens of MB per task,
    # not an Arrow-batch-sized GB.
    M = float(np.abs(Xa).max()) if Xa.size else 1.0
    term_bound = (M * M) * _QUANT + 1.0
    if term_bound > 2 ** 62:
        raise ValueError(
            f"gram: |x| up to {M:.3g} overflows the integer quantum — "
            "normalize or rescale the vectors first")
    chunk = max(1, min(1024, int(2 ** 62 / term_bound)))
    G = [[0] * D for _ in range(D)]
    b = [0] * D
    for s in range(0, Xa.shape[0], chunk):
        Xc = Xa[s:s + chunk]
        yc = y[s:s + chunk]
        # int64 addition is associative: chunked sums == flat sums
        Ts = np.floor(np.einsum("bi,bj->bij", Xc, Xc) * _QUANT) \
            .astype(np.int64).sum(axis=0)
        Bs = np.floor((Xc * yc[:, None]) * _QUANT) \
            .astype(np.int64).sum(axis=0)
        for j in range(D):
            b[j] += int(Bs[j])
            row = G[j]
            for k in range(D):
                row[k] += int(Ts[j, k])
    return G, b


def _solve(G, b):
    """Gaussian elimination with partial pivoting, pure Python floats.

    Deterministic everywhere (no BLAS threading / build variance) —
    the fit and the oracle emitter must produce bit-identical weights.
    """
    n = len(b)
    A = [row[:] + [b[i]] for i, row in enumerate(G)]
    for col in range(n):
        piv = max(range(col, n), key=lambda r: abs(A[r][col]))
        if A[piv][col] == 0.0:
            raise ValueError("singular normal equations; raise l2")
        A[col], A[piv] = A[piv], A[col]
        for r in range(col + 1, n):
            f = A[r][col] / A[col][col]
            if f != 0.0:
                for c in range(col, n + 1):
                    A[r][c] -= f * A[col][c]
    w = [0.0] * n
    for r in range(n - 1, -1, -1):
        acc = A[r][n]
        for c in range(r + 1, n):
            acc -= A[r][c] * w[c]
        w[r] = acc / A[r][r]
    return w


def weights_from_sums(G_int, b_int, l2: float):
    """Integer sums → ridge weights. One canonical float path shared by
    the distributed fit and the oracle emitter: int → float64 division
    by the quantum, l2 added to every non-bias diagonal."""
    import numpy as np

    D = len(b_int)
    G = [[float(np.float64(G_int[j][k]) / _QUANT) for k in range(D)]
         for j in range(D)]
    b = [float(np.float64(b_int[j]) / _QUANT) for j in range(D)]
    for j in range(D - 1):                 # bias stays unregularized
        G[j][j] += l2
    return _solve(G, b)


def gram_partials(df: DataFrame, vec_col: str = "embedding",
                  label_col: str = "label", positive: int = 0,
                  d: int | None = None) -> DataFrame:
    """(j, k, qsum): exact integer normal-equation sums, distributed.

    ``k = -1`` rows carry the Xᵀy vector (y = 1.0 when
    ``label = positive`` else 0.0); ``k >= 0`` rows the upper triangle
    of XᵀX (augmented: index d is the bias column). One mapInPandas
    sweep emitting O(d²) partial rows per Arrow batch, merged by a
    DECIMAL(38,0) sum — exact on any partitioning.
    """
    if d is None:
        d = df.select(F.size(vec_col).alias("d")).first()["d"]
    target = df.sparkSession.sparkContext.defaultParallelism
    data = df.select(vec_col, label_col)
    if data.rdd.getNumPartitions() < max(1, target // 2):
        data = data.repartition(target)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for chunk in batches:
            if not len(chunk):
                continue
            vecs = chunk[vec_col].tolist()
            for v in vecs:
                if v is None or len(v) != d or any(x is None for x in v):
                    raise ValueError(
                        f"gram_partials: bad vector (expect dim {d}, "
                        "no NULLs)")
            X = np.asarray(vecs, dtype=np.float64)
            if X.size and np.isnan(X).any():
                raise ValueError("gram_partials: NaN vector elements")
            y = (chunk[label_col].to_numpy() == positive).astype(np.float64)
            G, b = quantized_gram_np(X, y)
            D = d + 1
            js, ks, qs = [], [], []

            def emit(j, k, v):
                # batch partials are exact Python ints; the emit column
                # is int64, so split oversized values into bounded
                # pieces — the downstream DECIMAL(38,0) sum re-merges
                # them exactly
                cap = 2 ** 62
                while v > cap or v < -cap:
                    piece = cap if v > 0 else -cap
                    js.append(j); ks.append(k); qs.append(piece)
                    v -= piece
                js.append(j); ks.append(k); qs.append(v)

            for j in range(D):
                emit(j, -1, b[j])
                for k in range(j, D):
                    emit(j, k, G[j][k])
            yield pd.DataFrame({
                "j": pd.array(js, dtype="int32"),
                "k": pd.array(ks, dtype="int32"),
                "qsum": pd.array(qs, dtype="int64"),
            })

    parts = data.mapInPandas(gen, "j int, k int, qsum long")
    return (parts.groupBy("j", "k")
            .agg(F.sum(F.col("qsum").cast("decimal(38,0)")).alias("qsum")))


def ridge_fit(df: DataFrame, vec_col: str = "embedding",
              label_col: str = "label", positive: int = 0,
              l2: float = 1e-3, d: int | None = None) -> list[float]:
    """Distributed closed-form ridge fit → (d+1) weights (bias last)."""
    if d is None:
        d = df.select(F.size(vec_col).alias("d")).first()["d"]
    rows = gram_partials(df, vec_col, label_col, positive, d=d).collect()
    D = d + 1
    G = [[0] * D for _ in range(D)]
    b = [0] * D
    for r in rows:
        if r["k"] == -1:
            b[r["j"]] = int(r["qsum"])
        else:
            G[r["j"]][r["k"]] = int(r["qsum"])
            G[r["k"]][r["j"]] = int(r["qsum"])
    return weights_from_sums(G, b, l2)


def _score_expr(w: list[float], vec: str) -> str:
    """Unrolled left-assoc ``w·x + bias`` — identical op order on both
    engines, whole-stage-codegen friendly (no HOF fold)."""
    d = len(w) - 1
    terms = []
    for j in range(d):
        terms.append(f"({repr(float(w[j]))} * "
                     f"CAST(element_at({vec}, {j + 1}) AS DOUBLE))")
    expr = terms[0]
    for t in terms[1:]:
        expr = f"({expr} + {t})"
    return f"({expr} + {repr(float(w[d]))})"


def linear_score(df: DataFrame, w: list[float],
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 threshold: float = 0.5, round_to: int = 6) -> DataFrame:
    """(id, score, pred): probe score per row, narrow projection.

    ``pred`` thresholds the ROUNDED score — the same value the row
    publishes — so a consumer re-deriving the gate from the visible
    score can never disagree with the emitted pred.
    """
    s = _floor_round(_score_expr(w, vec_col), round_to)
    return df.select(
        F.col(id_col),
        F.expr(s).alias("score"),
        F.expr(f"CASE WHEN {s} >= {repr(float(threshold))} "
               "THEN 1 ELSE 0 END").alias("pred"),
    )


def linear_probe(df: DataFrame, vec_col: str = "embedding",
                 label_col: str = "label", id_col: str = "vec_id",
                 positive: int = 0, l2: float = 1e-3,
                 threshold: float = 0.5, round_to: int = 6,
                 w: list[float] | None = None) -> DataFrame:
    """Fit distributed (unless ``w`` is supplied) + score the corpus."""
    if w is None:
        w = ridge_fit(df, vec_col, label_col, positive, l2)
    return linear_score(df, w, vec_col, id_col, threshold, round_to)
