"""Dimensionality reduction for embedding columns: random projection
(Johnson–Lindenstrauss) and trained PCA.

Beyond-reference scope (driver brief: similarity-search scale path; no
vector surface exists in the reference repo). Dimensionality reduction
is the standard pre-ANN cost lever at 100 TB: a sign-matrix projection
(Achlioptas 2003, "Database-friendly random projections") maps d-dim
vectors to k-dim with pairwise distances preserved within
O(sqrt(log n / k)) — LSH bucketing, IVF assignment, and brute-force
rerank all get a d/k work reduction on the reduced vectors, and the
projected table is the cheaper thing to shuffle.

Scale shape: the projection matrix is a k×d SIGN pattern derived from
md5 — deterministic, regenerated anywhere from (salt, dims), never
shipped. Each output component lowers to an UNROLLED left-associated
chain of ± element additions (the `_adc_expr` lesson: explicit
arithmetic is codegen-able; interpreted higher-order folds are not),
so encode is a narrow zero-shuffle projection with no Python anywhere.

Cross-engine exactness: the same md5 bits pick the same signs in the
Spark emitter and the DuckDB oracle emitter; additions associate in
the same written order, the final scale is an exact power-of-two-ish
divide executed identically — projected doubles hash-match at
floor_round-to-6 output precision.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round as _floor_round, floor_round_py as _floor_round_py)

__all__ = ["rp_signs", "rp_project", "pca_train", "pca_project"]


def rp_signs(out_dim: int, in_dim: int, salt: str = "rp") -> list[list[int]]:
    """Deterministic ±1 sign matrix: sign[j][i] from one md5 bit of
    ``salt:j:i``. Shared by the Spark operator and the oracle emitter —
    the matrix never needs storing or shipping."""
    return [[1 if hashlib.md5(f"{salt}:{j}:{i}".encode()).digest()[0] & 1
             else -1 for i in range(in_dim)]
            for j in range(out_dim)]


def sum_expr(signs: list[int], elem) -> str:
    """Left-associated ± chain over 1-indexed elements; ``elem`` formats
    one element access (engine-specific)."""
    out = f"({'' if signs[0] > 0 else '- '}{elem(1)})"
    for i, s in enumerate(signs[1:], start=2):
        out = f"({out} {'+' if s > 0 else '-'} {elem(i)})"
    return out


def _maybe_explode(df: DataFrame, id_col: str, comps: list,
                   explode: bool) -> DataFrame:
    """Final projection shape shared by rp/pca: the array column, or —
    ``explode=True`` — one (id, dim, val) row per component. The
    exploded form is the WINDOW-SAFE one: the driver's pandas
    canonicalizer ``sort_values`` raises on list cells, and CSV
    stringification is off the table because Spark's double→string cast
    uses scientific notation where DuckDB prints decimals; per-dim
    DOUBLE rows sort and hash identically on both engines.

    The explode is a SECOND select over the materialized ``proj``
    column, not posexplode over the inline array expression: feeding
    the unrolled multiply-add chains straight into the Generate node
    blows janino's method-size limit (measured: whole-stage codegen
    falls back to interpreted eval at 16×64), while the two-step shape
    keeps the projection in its own compiled unit.

    The barrier ahead of the posexplode is load-bearing: the Generate's
    inferred ``size(proj) > 0`` filter otherwise inlines the FULL
    out_dim × in_dim fold and pushes it below the small-input spread
    exchange — re-running the whole projection serially in the 1-task
    scan stage (measured 2.1 s at sf0.1) before the parallel stage
    evaluates it again. Post-barrier the filter references only the
    materialized array — a per-row length check."""
    from .skew import pushdown_barrier

    arr = F.array(*[F.expr(c) for c in comps])
    out = df.select(id_col, arr.alias("proj"))
    if explode:
        return (pushdown_barrier(out)
                .select(id_col, F.posexplode("proj").alias("dim", "val")))
    return out


def _project_arrow(df: DataFrame, id_col: str, vec_col: str,
                   in_dim: int, rows: list, *, mean: list | None,
                   scale: float | None, round_to: int, explode: bool,
                   op_name: str) -> DataFrame:
    """Arrow-kernel twin of the unrolled projection chains — the
    ``opq._rotate_arrow`` recipe. Bit-exact with the expression path:
    per output component the fold runs vectorized ACROSS rows but
    sequential WITHIN the chain, replicating the left-associated IEEE
    ops operand-for-operand — rp: ``acc = ±x_1`` then ``acc ± x_i``
    then ``/ scale``; pca: ``acc = w_1·c_1`` then ``acc + (w_i·c_i)``
    over the centered ``c = x − μ`` — and finishes with the shared
    floor rule (``floor_round_py``'s exact ops, vectorized; values are
    bounded far below 2^53/scale so ``np.floor == floor``). The
    coefficient matrix rides a broadcast instead of the plan (the
    16×64 literal chains were the multi-second driver-build cost
    Change 15 shrank but could not remove), and the same loud-failure
    contract holds: wrong-length / NULL / NaN vectors raise."""
    import numpy as np

    from .skew import spread_partitions

    id_type = [f.dataType.simpleString() for f in df.schema.fields
               if f.name == id_col][0]
    fscale = 10.0 ** round_to
    bc = df.sparkSession.sparkContext.broadcast((rows, mean, scale))

    def gen(batches):
        import pandas as pd

        t_rows, t_mean, t_scale = bc.value
        for chunk in batches:
            vecs = chunk[vec_col].tolist()
            if not vecs:
                continue
            for vid, v in zip(chunk[id_col].tolist(), vecs):
                if v is None or len(v) != in_dim:
                    raise ValueError(
                        f"{op_name}: vector for {vid} has size "
                        f"{'NULL' if v is None else len(v)}, "
                        f"expected {in_dim}")
                if any(x is None for x in v):
                    raise ValueError(
                        f"{op_name}: NULL/NaN element in vector "
                        f"for {vid}")
            X = np.asarray(vecs, dtype=np.float64)
            nan_rows = np.isnan(X).any(axis=1)
            if nan_rows.any():
                # name the offending row like the expr path's
                # assert_true message does (ADVICE r11)
                bad = chunk[id_col].tolist()[int(np.argmax(nan_rows))]
                raise ValueError(
                    f"{op_name}: NULL/NaN element in vector for {bad}")
            if t_mean is not None:
                X = X - np.asarray(t_mean, dtype=np.float64)
            outs = []
            for row in t_rows:
                if t_mean is None:          # rp: left-assoc ± chain
                    acc = X[:, 0] if row[0] > 0 else -X[:, 0]
                    for i, s in enumerate(row[1:], start=1):
                        acc = (acc + X[:, i] if s > 0
                               else acc - X[:, i])
                    acc = acc / t_scale
                else:                       # pca: left-assoc Σ w·c
                    acc = row[0] * X[:, 0]
                    for i, w in enumerate(row[1:], start=1):
                        acc = acc + (w * X[:, i])
                outs.append(np.floor(acc * fscale + 0.5) / fscale)
            P = np.stack(outs, axis=1)
            if explode:
                n, k = P.shape
                yield pd.DataFrame({
                    id_col: chunk[id_col].repeat(k)
                    .reset_index(drop=True),
                    "dim": np.tile(np.arange(k, dtype=np.int32), n),
                    "val": P.reshape(-1),
                })
            else:
                yield pd.DataFrame({
                    id_col: chunk[id_col],
                    "proj": pd.Series(
                        [[float(x) for x in r] for r in P],
                        dtype="object"),
                })

    narrow = spread_partitions(df.select(id_col, vec_col),
                               key_col=id_col)
    schema = (f"{id_col} {id_type}, dim int, val double" if explode
              else f"{id_col} {id_type}, proj array<double>")
    return narrow.mapInPandas(gen, schema)


def rp_project(df: DataFrame, in_dim: int, out_dim: int = 16,
               vec_col: str = "embedding", id_col: str = "vec_id",
               salt: str = "rp", round_to: int = 6,
               explode: bool = False, impl: str = "arrow") -> DataFrame:
    """(id, proj) — or (id, dim, val) with ``explode=True``: k-dim
    sign-projection of a d-dim embedding column.

    ``proj[j] = (Σ_i sign_ji · x_i) / sqrt(out_dim)`` — the
    database-friendly JL transform. Narrow per-row work (no shuffle, no
    Python); a row whose vector is NULL, has the wrong length, or
    carries NULL elements fails loudly (same contract as ``pq_encode``:
    a silent NaN would poison every downstream distance).
    """
    if out_dim < 1 or in_dim < 1:
        raise ValueError(f"rp_project: bad dims ({out_dim}, {in_dim})")
    if impl not in ("arrow", "expr"):
        raise ValueError(f"rp_project: impl must be 'arrow' or "
                         f"'expr': {impl!r}")
    signs = rp_signs(out_dim, in_dim, salt)
    scale = float(out_dim) ** 0.5
    if impl == "arrow":
        # default since the r11 optimization round: one mapInPandas
        # against the broadcast sign matrix — bit-exact with the expr
        # path (pinned by test_projection_arrow_expr_interchangeable)
        # and the 1024-term chain stays off the plan. ``impl='expr'``
        # keeps the zero-Python codegen path (the pq_encode twin
        # convention).
        return _project_arrow(df, id_col, vec_col, in_dim, signs,
                              mean=None, scale=scale,
                              round_to=round_to, explode=explode,
                              op_name="rp_project")
    guarded = (
        f"CASE WHEN size({vec_col}) = {in_dim} THEN "
        f"transform({vec_col}, v -> CAST(v AS DOUBLE)) "
        f"ELSE assert_true(false, concat('rp_project: vector for ', "
        f"CAST({id_col} AS STRING), ' has size ', "
        f"CAST(size({vec_col}) AS STRING), ', expected {in_dim}')) END")
    comps = []
    for j, row in enumerate(signs):
        s = sum_expr(row, lambda i: f"element_at(_xd, {i})")
        comps.append(_floor_round(
            f"({s}) / CAST('{scale!r}' AS DOUBLE)", round_to))
    from .skew import pushdown_barrier, spread_partitions

    # the unrolled out_dim x in_dim +/- fold is the heavy narrow kernel
    # and a single-row-group file scans as one task — spread small
    # inputs across cores (no-op on a corpus-sized scan)
    base = (spread_partitions(df, key_col=id_col)
            .withColumn("_xd", F.expr(guarded))
            .withColumn("_xd", F.expr(
                "CASE WHEN NOT exists(_xd, v -> v IS NULL OR isnan(v)) "
                "THEN _xd ELSE assert_true(false, concat("
                f"'rp_project: NULL/NaN element in vector for ', "
                f"CAST({id_col} AS STRING))) END")))
    # materialize the guarded _xd once: CollapseProject otherwise
    # inlines the double CASE/transform guard into every one of the
    # out_dim × in_dim element_at terms (a 1.1 MB analyzed plan at
    # 16×64 — multi-second driver build before any task runs)
    base = pushdown_barrier(base.select(id_col, "_xd"))
    return _maybe_explode(base, id_col, comps, explode)


# ---------------------------------------------------------------------------
# PCA projection — the data-aware complement of the oblivious JL transform
# ---------------------------------------------------------------------------

def pca_train_np(X, out_dim: int, round_to: int) -> tuple[list, list]:
    """(mean, components): quantized PCA artifacts from a sample matrix.

    Top ``out_dim`` right-singular vectors of the centered sample, each
    sign-fixed (largest-|coefficient| element made positive — SVD signs
    are otherwise arbitrary) and quantized to the shared floor rule so
    the published artifact is a stable list of exactly-representable
    literals. Deterministic: the Spark trainer and the oracle emitter
    run this same function on the same lowest-id sample.
    """
    import numpy as np

    if X.ndim != 2 or X.shape[0] < 2:
        raise ValueError(
            f"pca_train: need a 2-D sample with >= 2 rows, got {X.shape}")
    d = X.shape[1]
    if not 1 <= out_dim <= d:
        raise ValueError(f"pca_train: out_dim {out_dim} not in [1, {d}]")
    mu = X.mean(axis=0)
    _, _, Vt = np.linalg.svd(X - mu, full_matrices=False)
    W = Vt[:out_dim].copy()
    for j in range(out_dim):
        i = int(np.argmax(np.abs(W[j])))
        if W[j][i] < 0:
            W[j] = -W[j]
    return ([_floor_round_py(float(v), round_to) for v in mu],
            [[_floor_round_py(float(v), round_to) for v in row] for row in W])


def pca_train(df: DataFrame, out_dim: int = 8,
              vec_col: str = "embedding", id_col: str = "vec_id",
              sample: int = 2048, round_to: int = 6) -> tuple[list, list]:
    """(mean, components): PCA trained on the ``sample`` lowest-id rows.

    Driver-side numpy bounded by ``sample`` (the `_sample_matrix`
    contract every quantizer trainer in this package uses — never a
    full-corpus collect); the artifacts are tiny ((1+out_dim)×d quantized
    doubles) and fold into the projection plan as literals.

    Where :func:`rp_project` is data-OBLIVIOUS (a JL sign matrix —
    distance-preserving on average, no training pass), PCA spends one
    bounded training pass to capture the top variance directions, which
    at the same out_dim preserves neighborhoods better on anisotropic
    real-embedding distributions — the standard pre-ANN reduction (and
    the rotation initializer in faiss's OPQ recipe). Use RP when you
    cannot afford a train step or need a shipping-free matrix; PCA when
    you can (Jolliffe, *Principal Component Analysis*; Ge et al. 2013
    §2 for the ANN framing).
    """
    from .pq import _sample_matrix

    return pca_train_np(_sample_matrix(df, vec_col, id_col, sample),
                         out_dim, round_to)


def wsum_expr(weights: list, elem) -> str:
    """Left-associated weighted chain Σ w_i·elem(i) over 1-indexed
    elements, every coefficient a quantized literal parsed identically
    by both engines; ``elem`` formats one element access."""
    def lit(w) -> str:
        return f"CAST('{w!r}' AS DOUBLE)"

    out = f"({lit(weights[0])} * {elem(1)})"
    for i, w in enumerate(weights[1:], start=2):
        out = f"({out} + ({lit(w)} * {elem(i)}))"
    return out


def pca_project(df: DataFrame, mean: list, components: list,
                vec_col: str = "embedding", id_col: str = "vec_id",
                round_to: int = 6, explode: bool = False,
                impl: str = "arrow") -> DataFrame:
    """(id, proj) — or (id, dim, val) with ``explode=True``: project
    embeddings onto trained PCA components.

    ``proj[j] = Σ_i W_ji · (x_i − μ_i)``, lowered exactly like
    :func:`rp_project`: center once into a derived array (one
    ``zip_with`` against the literal mean), then one unrolled
    left-associated multiply-add chain per output component — a narrow
    zero-shuffle codegen projection, no Python anywhere, artifacts live
    in the plan. Rows with NULL / wrong-length / NaN vectors fail loudly
    (the shared quantizer contract: a silent NaN poisons every
    downstream distance).
    """
    in_dim, out_dim = len(mean), len(components)
    if out_dim < 1 or in_dim < 1:
        raise ValueError(f"pca_project: bad dims ({out_dim}, {in_dim})")
    for j, row in enumerate(components):
        if len(row) != in_dim:
            raise ValueError(
                f"pca_project: component {j} has {len(row)} coefficients, "
                f"mean has {in_dim}")
    if impl not in ("arrow", "expr"):
        raise ValueError(f"pca_project: impl must be 'arrow' or "
                         f"'expr': {impl!r}")
    if impl == "arrow":
        # see rp_project: bit-exact kernel twin, coefficients off the
        # plan; impl='expr' keeps the zero-Python codegen path
        return _project_arrow(df, id_col, vec_col, in_dim,
                              [list(r) for r in components],
                              mean=list(mean), scale=None,
                              round_to=round_to, explode=explode,
                              op_name="pca_project")
    mus = ", ".join(f"CAST('{m!r}' AS DOUBLE)" for m in mean)
    guarded = (
        f"CASE WHEN size({vec_col}) = {in_dim} THEN "
        f"transform({vec_col}, v -> CAST(v AS DOUBLE)) "
        f"ELSE assert_true(false, concat('pca_project: vector for ', "
        f"CAST({id_col} AS STRING), ' has size ', "
        f"CAST(size({vec_col}) AS STRING), ', expected {in_dim}')) END")
    comps = []
    for row in components:
        s = wsum_expr(row, lambda i: f"element_at(_cd, {i})")
        comps.append(_floor_round(s, round_to))
    from .skew import pushdown_barrier, spread_partitions

    base = (spread_partitions(df, key_col=id_col)
            .withColumn("_xd", F.expr(guarded))
            .withColumn("_xd", F.expr(
                "CASE WHEN NOT exists(_xd, v -> v IS NULL OR isnan(v)) "
                "THEN _xd ELSE assert_true(false, concat("
                f"'pca_project: NULL/NaN element in vector for ', "
                f"CAST({id_col} AS STRING))) END"))
            .withColumn("_cd", F.expr(
                f"zip_with(_xd, array({mus}), (v, m) -> v - m)")))
    # materialize the guarded+centered _cd once — see rp_project (the
    # same CollapseProject inlining blow-up, one guard per chain term)
    base = pushdown_barrier(base.select(id_col, "_cd"))
    return _maybe_explode(base, id_col, comps, explode)
