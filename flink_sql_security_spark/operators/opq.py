"""Optimized Product Quantization: a learned rotation before PQ.

Ge et al. 2013 ("Optimized Product Quantization for Approximate
Nearest Neighbor Search", CVPR): plain PQ quantizes axis-aligned
subspaces, so correlated / anisotropic embedding dimensions (the
realistic regime — learned embeddings are rarely axis-decorrelated)
waste codebook capacity. OPQ alternates (a) PQ codebook training on
the rotated sample with (b) an orthogonal-Procrustes update of the
rotation ``R`` (SVD of X·X̂ᵀ cross-covariance), yielding a rotation
under which the subspaces are near-independent — same code budget,
better recall.

Spark-first shape:
- ``opq_train`` is driver-side numpy on the SAME deterministic
  lowest-id sample every PQ trainer uses (bounded by ``sample`` —
  never corpus-sized); the result is a (d×d rotation, codebooks) pair
  of plain-float artifacts, exactly like PQ codebooks.
- ``opq_rotate`` applies the rotation as ONE narrow projection:
  ``transform(R_cols, c -> floor_round(Σ c_i·x_i))`` — the rotation
  matrix rides into the plan as literals (the centroid-literal idiom),
  no shuffle, no Python, no driver collect. The components quantize
  with the shared floor rule so both engines see bit-identical rotated
  vectors.
- ``opq_topk`` = rotate both sides, then the existing :func:`pq_topk`
  machinery unchanged (its LUT builder, broadcast gate, persist
  boundary and flat→IVF size gate all apply to the rotated frames).

Determinism / oracle parity: the rotation is quantized to ``round_to``
decimals AFTER training and the final codebooks retrain against the
quantized rotation, so the artifact pair is self-consistent; the
oracle emitter re-derives both with the same numpy from the parquet
and recomputes the rotation in SQL with the same sequential fold +
floor rule (the ``query_lut`` bit-parity recipe, pq.py:606).

Reference scope note: no vector search exists in the reference repo;
this extends the engine per the driver brief (similarity-search scale
path), deepening the quantization ladder int8 → PQ → IVF-PQ → binary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round, floor_round_py)

from .clustering import _centroid_array_sql
from .pq import (_gate_lut_broadcast, _ivfpq_topk, _pq_topk, pq_train_np,
                 _sample_matrix)


def _pq_assign_np(Xr, books: list):
    """Per-subspace nearest-centroid reconstruction of a rotated sample
    (ties to the lowest centroid index — argmin's first match, the same
    rule as the engine-side ``list_position(list_min)``)."""
    import numpy as np

    parts = []
    start = 0
    for book in books:
        w = len(book[0])
        C = np.asarray(book, dtype=np.float64)
        seg = Xr[:, start:start + w]
        d2 = ((seg[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        parts.append(C[np.argmin(d2, axis=1)])
        start += w
    return np.hstack(parts)


def opq_train_np(X, m: int, k: int, iters: int, opq_iters: int,
                  round_to: int) -> tuple:
    Rq, books, _ = _opq_train_np_full(X, m, k, iters, opq_iters,
                                      round_to)
    return Rq, books


def _opq_train_np_full(X, m: int, k: int, iters: int, opq_iters: int,
                       round_to: int, train_books: bool = True) -> tuple:
    """(Rq, books, Xr): like :func:`opq_train_np` but also returns the
    exactly-rotated sample, so composing trainers (OPQ-IVF) reuse it
    instead of re-running the d×d engine-replica rotation and the m
    subspace k-means trainings for bit-identical results.
    ``train_books=False`` skips the final flat codebook training and
    returns ``books=None`` — for compositions (residual OPQ-IVF) that
    train their own books on the rotated sample."""
    import numpy as np

    d = X.shape[1]
    R = np.eye(d)
    for _ in range(opq_iters):
        books = pq_train_np(X @ R, m, k, iters)
        Xhat = _pq_assign_np(X @ R, books)
        # orthogonal Procrustes: argmin_R ||X R − X̂||_F = U Vᵀ of the
        # cross-covariance SVD (Ge et al. 2013 §4, the non-parametric
        # solution)
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    # quantize the rotation to the shared floor rule, then retrain the
    # codebooks against the vectors the ENGINES will actually encode:
    # _rotate_rows_np replays the engines' sequential fold + floor rule
    # exactly (same recipe as opq_ivf_train_np), so the published
    # artifact pair is self-consistent — the books are fit to the very
    # doubles opq_rotate emits, not to a BLAS matmul's close-but-
    # different accumulation order
    Rq = [[floor_round_py(float(v), round_to) for v in row] for row in R]
    Xr = _rotate_rows_np(X, Rq, round_to)
    books = pq_train_np(Xr, m, k, iters) if train_books else None
    return Rq, books, Xr


def opq_train(df: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id", m: int = 16, k: int = 16,
              iters: int = 3, opq_iters: int = 3, sample: int = 2048,
              round_to: int = 6) -> tuple:
    """(R, codebooks): a quantized d×d rotation (list of rows) and the
    per-subspace codebooks trained on the rotated sample. Deterministic
    end to end (lowest-id sample, fixed iteration counts, deterministic
    SVD) — the oracle emitter re-derives both from the parquet."""
    return opq_train_np(_sample_matrix(df, vec_col, id_col, sample),
                         m, k, iters, opq_iters, round_to)


def r_cols(R: list) -> list:
    """Columns of R (= rows of Rᵀ): output component j is the fold of
    column j against the input vector."""
    d = len(R)
    return [[R[i][j] for i in range(d)] for j in range(d)]


def _rotate_expr(xd: str, R: list, round_to: int) -> str:
    return (f"transform({_centroid_array_sql(r_cols(R))}, c -> "
            + floor_round(
                f"aggregate(zip_with(c, {xd}, (a, b) -> a * b), 0D, "
                "(acc, v) -> acc + v)", round_to) + ")")


def _rotate_arrow(df: DataFrame, R: list, vec_col: str,
                  id_col: str, round_to: int,
                  spread: bool = True) -> DataFrame:
    """Arrow-kernel rotation: one ``mapInPandas`` against the broadcast
    matrix. Bit-exact twin of the expression path: per output component
    the accumulator starts at 0.0 and adds ``c·x`` terms in index order
    (vectorized ACROSS rows, sequential WITHIN the fold — the
    ``_subspace_dists_np`` recipe), then the shared floor rule. Spark
    interprets the d×d HOF fold per row (~20 executor-s at sf0.1 64×64)
    and carries the d² literal matrix in the plan; the kernel runs the
    same arithmetic as d² numpy array ops with the matrix on a
    broadcast, off the plan."""
    import numpy as np

    d = len(R)
    bc = df.sparkSession.sparkContext.broadcast(r_cols(R))
    id_type = [f.dataType.simpleString() for f in df.schema.fields
               if f.name == id_col][0]
    scale = 10.0 ** round_to

    def gen(batches):
        import pandas as pd

        cols = bc.value
        for chunk in batches:
            vecs = chunk[vec_col].tolist()
            if not vecs:
                continue
            for vid, v in zip(chunk[id_col].tolist(), vecs):
                if v is None or len(v) != d or any(
                        x is None for x in v):
                    raise ValueError(
                        f"opq_rotate: bad vector for {vid} (size "
                        f"{'NULL' if v is None else len(v)}, expected "
                        f"{d}, or NULL/NaN element)")
            X = np.asarray(vecs, dtype=np.float64)
            nan_rows = np.isnan(X).any(axis=1)
            if nan_rows.any():
                # name the offending row like the expr path's
                # assert_true message did (ADVICE r11)
                bad = chunk[id_col].tolist()[int(np.argmax(nan_rows))]
                raise ValueError(
                    f"opq_rotate: bad vector for {bad} (NaN element)")
            n = X.shape[0]
            out = []
            for col in cols:
                acc = np.zeros(n, dtype=np.float64)
                for i, c in enumerate(col):
                    acc = acc + c * X[:, i]
                # floor_round_py's exact IEEE ops, vectorized (values
                # bounded far below 2^53/scale, so np.floor == floor)
                out.append(np.floor(acc * scale + 0.5) / scale)
            rot = np.stack(out, axis=1)
            yield pd.DataFrame({
                id_col: chunk[id_col],
                "rot": pd.Series([[float(x) for x in row]
                                  for row in rot], dtype="object"),
            })

    from .skew import spread_partitions

    # single-row-group scans deliver the corpus as ONE Arrow batch on
    # one task (the pq._encode_arrow pattern) — conditional round-robin
    # spread, no-op on corpus-sized inputs; per-row kernel, so the
    # rotated vectors are partitioning-invariant. ``spread=False`` for
    # query-batch callers whose output feeds a broadcast LUT build
    # (the binary_codes opt-out): spreading ~10 rows over 32 partitions
    # costs 32 near-empty Python worker round-trips in THIS kernel and
    # again in every downstream kernel that inherits the partitioning.
    narrow = df.select(id_col, vec_col)
    if spread:
        narrow = spread_partitions(narrow)
    return narrow.mapInPandas(gen, f"{id_col} {id_type}, rot array<double>")


def opq_rotate(df: DataFrame, R: list, vec_col: str = "embedding",
               id_col: str = "vec_id", round_to: int = 6,
               impl: str = "arrow", spread: bool = True) -> DataFrame:
    """(id, rot): the rotated double vectors, one narrow projection.

    ``impl="arrow"`` (default) rotates in one Arrow-batched numpy
    kernel (:func:`_rotate_arrow`) — bit-identical folds via the
    sequential-order accumulator, the matrix rides a broadcast instead
    of d² plan literals; ``impl="expr"`` keeps the pure-JVM expression
    path (zero Python anywhere — the ``pq_encode`` twin convention,
    row-for-row interchangeable, pytest-pinned).

    Expression path: zero shuffle, zero Python: the rotation matrix is
    a plan literal and each component is a sequential fold. The guarded
    input vector is bound ONCE per row with the
    ``transform(array(..), xd -> ..)[0]``
    idiom (the round-2 lesson: a derived column referenced inside a
    HOF lambda re-inlines and re-evaluates per outer iteration — here
    the d-element guard+cast would run d× per row)."""
    if impl == "arrow":
        return _rotate_arrow(df, R, vec_col, id_col, round_to,
                             spread=spread)
    if impl != "expr":
        raise ValueError(f"opq_rotate: unknown impl {impl!r}")
    d = len(R)
    guarded = (
        f"CASE WHEN size({vec_col}) = {d} AND NOT exists({vec_col}, "
        f"v -> v IS NULL OR isnan(v)) THEN "
        f"transform({vec_col}, v -> CAST(v AS DOUBLE)) "
        f"ELSE assert_true(false, concat('opq_rotate: bad vector for ', "
        f"CAST({id_col} AS STRING), ' (size ', "
        f"CAST(size({vec_col}) AS STRING), ', expected {d}, or "
        f"NULL/NaN element)')) END")
    bound = (f"transform(array({guarded}), xd -> "
             + _rotate_expr("xd", R, round_to) + ")[0]")
    return df.select(F.col(id_col), F.expr(bound).alias("rot"))


def opq_encode(df: DataFrame, R: list, codebooks: list,
               vec_col: str = "embedding", id_col: str = "vec_id",
               round_to: int = 6, coarse: list | None = None,
               residual: bool = False) -> DataFrame:
    """Rotated PQ codes — the stored OPQ index (build once, probe many;
    the ``codes_df`` convention of the PQ tier). Pass ``coarse`` (and
    ``residual``, matching :func:`opq_ivf_train`'s settings) to build
    the CELL-KEYED index :func:`opq_ivf_topk` consumes — a flat index
    has no ``cell`` column to prune on."""
    from .pq import pq_encode

    return pq_encode(opq_rotate(df, R, vec_col, id_col, round_to),
                     codebooks, vec_col="rot", id_col=id_col,
                     coarse=coarse, residual=residual)


def opq_topk(df: DataFrame, queries_df: DataFrame, R: list,
             codebooks: list, vec_col: str = "embedding",
             id_col: str = "vec_id", k: int = 5, round_to: int = 6,
             mode: str = "auto",
             corpus_rows: int | None = None,
             codes_df: DataFrame | None = None) -> DataFrame:
    """(q_id, n_id, adc_dist, rank): PQ ADC top-k in the rotated space.

    Rotation is distance-preserving (orthogonal R), so ADC distances in
    the rotated space estimate the SAME L2 neighbors — but the rotated
    subspaces are near-decorrelated, so the codebooks quantize finer.
    Everything after the rotation is :func:`pq.pq_topk` verbatim: LUT
    distribution, broadcast gating, the persist boundary, and the
    flat→IVF row-count gate (``pq.FLAT_LIMIT_ROWS`` / ``corpus_rows`` —
    the rotation is a 1:1 projection, so the corpus row count is the
    input's) all operate on the rotated frames. ``codes_df``
    (a prebuilt :func:`opq_encode` output) skips the corpus rotate +
    encode entirely — the build-once/probe-many serving shape.

    The broadcast gate and the auto-route row count both resolve HERE,
    on the pre-rotation frames: the Arrow rotate kernel is opaque to
    Catalyst (no size estimate, no column pruning through it), so
    gating/counting the rotated frames would read "unknown → huge" and
    pay the whole rotation just to count rows. Rotation is 1:1, so the
    input frames carry the same row count and the honest size proxy.
    The gate is sized for the route taken: one LUT per query on the
    flat route, ``n_probe`` of them on the IVF route."""
    def gate(n_probe: int) -> bool:
        return _gate_lut_broadcast(queries_df, id_col, vec_col, codebooks,
                                   n_probe=n_probe)

    rot_q = opq_rotate(queries_df, R, vec_col, id_col, round_to,
                       spread=False)
    if codes_df is None:
        if mode == "auto" and corpus_rows is None:
            corpus_rows = df.select(id_col).count()
        df = opq_rotate(df, R, vec_col, id_col, round_to)
    return _pq_topk(df, rot_q, codebooks, "rot", id_col, k, round_to,
                    codes_df, mode, corpus_rows, gate)


def _rotate_rows_np(X, R: list, round_to: int = 6):
    """Vectorized-but-exact replica of the engine rotation for a sample
    matrix: per output component the accumulation runs dimension by
    dimension (``acc = acc + X[:, i]·R[i][j]``), elementwise IEEE ops in
    the SAME order as the engines' sequential folds, then the floor
    rule — so training artifacts derived from the rotated sample line
    up with the values the engines actually compute."""
    import numpy as np

    Rn = np.asarray(R, dtype=np.float64)
    d = Rn.shape[0]
    out = np.empty((X.shape[0], d), dtype=np.float64)
    scale = 10.0 ** round_to
    for j in range(d):
        acc = np.zeros(X.shape[0], dtype=np.float64)
        for i in range(d):
            acc = acc + X[:, i] * Rn[i, j]
        out[:, j] = np.floor(acc * scale + 0.5) / scale
    return out


def opq_ivf_train_np(X, m: int, k: int, iters: int, opq_iters: int,
                      n_cells: int, round_to: int,
                      residual: bool) -> tuple:
    from .pq import ivfpq_train_np, l2_kmeans_np

    # reuse the flat trainer's rotated sample AND (non-residual) its
    # codebooks — both bit-identical to recomputing them here; the
    # residual branch trains its OWN books on the residuals, so it
    # skips the flat training entirely (train_books=False)
    R, books_flat, Xr = _opq_train_np_full(
        X, m, k, iters, opq_iters, round_to, train_books=not residual)
    if residual:
        coarse, books = ivfpq_train_np(Xr, n_cells, m, k, iters)
    else:
        books = books_flat
        coarse = [[float(v) for v in c]
                  for c in l2_kmeans_np(Xr, n_cells, iters)]
    return R, coarse, books


def opq_ivf_train(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", m: int = 16, k: int = 16,
                  iters: int = 3, opq_iters: int = 3, n_cells: int = 16,
                  sample: int = 2048, round_to: int = 6,
                  residual: bool = False) -> tuple:
    """(R, coarse, codebooks) for rotated IVF-PQ — the faiss
    "OPQ,IVF,PQ" index recipe. The coarse quantizer and codebooks train
    on the EXACTLY-rotated sample (:func:`_rotate_rows_np` — the same
    doubles the engines compute), so cell assignment and encode agree
    bit-for-bit with the oracle's re-derivation."""
    return opq_ivf_train_np(
        _sample_matrix(df, vec_col, id_col, sample), m, k, iters,
        opq_iters, n_cells, round_to, residual)


def opq_ivf_topk(df: DataFrame, queries_df: DataFrame, R: list,
                 coarse: list, codebooks: list,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 k: int = 5, n_probe: int = 4, round_to: int = 6,
                 residual: bool = False,
                 codes_df: DataFrame | None = None) -> DataFrame:
    """(q_id, n_id, adc_dist, rank): cell-pruned ADC in the rotated
    space — the composition that makes OPQ a 100 TB plan (rotation is a
    narrow projection fused into the one-pass encode; the search itself
    is :func:`pq.ivfpq_topk` verbatim on the rotated frames, touching
    ~n_probe/n_cells of the rotated code table per query). ``codes_df``
    must be a CELL-KEYED index — ``opq_encode(..., coarse=coarse,
    residual=residual)`` with this call's settings."""
    # resolve the gate on the pre-rotation query frame — see opq_topk
    # (the Arrow rotate kernel hides plan stats; rotation is 1:1)
    small_q = _gate_lut_broadcast(queries_df, id_col, vec_col, codebooks,
                                  n_probe=n_probe)
    rot_q = opq_rotate(queries_df, R, vec_col, id_col, round_to,
                       spread=False)
    rot_c = (df if codes_df is not None
             else opq_rotate(df, R, vec_col, id_col, round_to))
    return _ivfpq_topk(rot_c, rot_q, coarse, codebooks, "rot", id_col, k,
                       n_probe, round_to, residual, codes_df, small_q)
