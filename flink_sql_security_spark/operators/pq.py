"""Product quantization (PQ) for embedding columns: subspace codebooks,
code encoding, and asymmetric-distance (ADC) top-k search.

Beyond-reference scope (driver brief: similarity-search scale path). PQ
is the memory-bound ANN tier: a d-dim float32 vector (256 bytes at d=64)
compresses to ``m`` one-byte codes (16 bytes at m=16) — at 100 TB of
embeddings the code table fits a cluster's RAM when the raw vectors
cannot, and ADC scans it with m table lookups per candidate instead of d
multiplies (Jégou et al. 2011, "Product Quantization for Nearest
Neighbor Search").

Scale shape:
- **train**: driver-side L2 k-means per subspace on the ``sample``
  lowest-id vectors (the standard bounded-sample recipe shared with
  IVF); deterministic — no RNG, fixed-order numpy — so the codebooks
  re-derive bit-identically anywhere.
- **encode**: narrow per-row work, zero shuffle. Default is ONE
  Arrow-batched numpy kernel (``impl="arrow"``) that replicates the
  sequential-fold squared-L2 bit-exactly (~8× faster than Spark's
  interpreted higher-order folds — measured 2.4 s → 0.3 s at sf0.1);
  ``impl="expr"`` keeps the pure-JVM expression path (the
  ``clustering.kmeans_assign`` pattern, zero Python anywhere) for
  deployments that forbid Python workers. Row-for-row interchangeable,
  pytest-pinned.
- **search (ADC)**: per query the m×k lookup table of
  ``||q_sub − centroid||²`` is computed EXECUTOR-side (one
  ``mapInPandas`` over the query table against broadcast codebooks —
  the query side never collects to the driver); scoring the corpus is
  one join of the LUT rows onto the code table and an m-step fold of
  table lookups per (query, code-row) pair — no vector ever moves. A
  window picks the global top-k per query.
- **IVF-PQ** (:func:`ivfpq_topk`): a coarse L2 quantizer routes each
  code row to a cell and each query to its ``n_probe`` nearest cells;
  the ADC join keys on ``cell``, so only ~n_probe/n_cells of the code
  table is scored per query instead of all of it — the difference
  between scanning a ~6 TB code table per query and a bounded slice.

Cross-engine exactness: training is driver numpy (same code re-derives
the identical codebooks from the parquet in the oracle emitter); encode
distances are sequential left folds (Spark ``aggregate`` == DuckDB
``list_sum`` op order) over repr-round-tripped double literals; ADC
lookups are exact element fetches folded sequentially — so codes,
reconstruction errors, and ADC distances all hash-match.

Reference scope note: no vector search exists in the reference repo;
this extends the engine per the driver brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round, floor_round_py)

from flink_sql_security_spark.operators.clustering import (
    _centroid_array_sql, _dists_expr)
from flink_sql_security_spark.operators.similarity import (
    BROADCAST_LIMIT_BYTES, _rank_top_k)

# pq_topk's mode='auto' routes a corpus of more than this many rows to
# the cell-pruned IVF-PQ scan: the row-count equivalent of a 256 MiB
# raw-vector plan at the d=64 reference shape, past which the
# rows×queries flat scan dominates every other cost.
FLAT_LIMIT_ROWS = 500_000


def l2_kmeans_np(X, k: int, iters: int):
    """Deterministic L2 Lloyd on a fixed-order sample (driver-side).

    Farthest-point init from row 0 (first-index tie-wins), ``iters``
    rounds of argmin-assign / mean-update; empty cells keep their
    centroid. Single-threaded numpy on a fixed array — bit-reproducible,
    which is all the oracle needs (training never crosses engines).
    """
    import numpy as np

    k = min(k, len(X))
    chosen = [0]
    d2 = np.einsum("ij,ij->i", X - X[0], X - X[0])
    for _ in range(k - 1):
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        dn = np.einsum("ij,ij->i", X - X[nxt], X - X[nxt])
        d2 = np.minimum(d2, dn)
    C = X[chosen].copy()
    for _ in range(iters):
        dists = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(dists, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def _subspace_bounds(d: int, m: int) -> list[tuple[int, int]]:
    """(start, width) per subspace; widths differ by ≤1 when m ∤ d."""
    base, extra = divmod(d, m)
    out, start = [], 0
    for s in range(m):
        width = base + (1 if s < extra else 0)
        out.append((start, width))
        start += width
    return out


def _sample_matrix(df: DataFrame, vec_col: str, id_col: str, sample: int):
    """The deterministic training sample: the ``sample`` lowest-id
    vectors as a float64 matrix (shared by every train entry point)."""
    import numpy as np

    pdf = (df.select(id_col, vec_col).orderBy(id_col).limit(sample)
           .toPandas())
    return np.array([np.asarray(v, dtype=np.float64)
                     for v in pdf[vec_col].tolist()])


def pq_train(df: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", m: int = 16, k: int = 16,
             iters: int = 3, sample: int = 2048) -> list:
    """Per-subspace codebooks: m lists of k centroids (python floats)."""
    return pq_train_np(_sample_matrix(df, vec_col, id_col, sample),
                        m, k, iters)


def pq_train_np(X, m: int, k: int, iters: int) -> list:
    if m < 1 or k < 1:
        raise ValueError("pq: m and k must be >= 1")
    if X.shape[1] < m:
        raise ValueError(
            f"pq: m={m} subspaces need at least m dimensions, got d="
            f"{X.shape[1]} (zero-width subspaces are impossible)")
    books = []
    for start, width in _subspace_bounds(X.shape[1], m):
        C = l2_kmeans_np(X[:, start:start + width].copy(), k, iters)
        books.append([[float(v) for v in c] for c in C])
    return books


def pq_encode(df: DataFrame, codebooks: list, vec_col: str = "embedding",
              id_col: str = "vec_id", round_to: int = 6,
              stringify_codes: bool = False,
              coarse: list | None = None,
              residual: bool = False,
              impl: str = "arrow") -> DataFrame:
    """(id[, cell], codes, err): per-subspace nearest-centroid codes +
    total squared reconstruction error. ``stringify_codes`` emits CSV
    codes for harnesses whose canonicalizers can't sort list cells.
    ``coarse`` (a centroid matrix from :func:`coarse_train`) adds the
    IVF cell id — argmin squared-L2 over the FULL vector with the same
    sequential-fold kernel as the subspace distances, computed in the
    same narrow projection (one scan emits cell + codes together).
    ``residual=True`` (IVFADC, Jégou et al. 2011 §IV) encodes
    ``x − coarse_centroid[cell]`` instead of ``x`` — the codebooks must
    then come from :func:`ivfpq_train`; residual magnitudes are far
    smaller than raw coordinates, so the same (m, k) budget quantizes
    them much more finely.

    ``impl``: ``"arrow"`` (default) encodes in one Arrow-batched numpy
    kernel (:func:`_encode_arrow`) — bit-identical distances via the
    sequential-order accumulator, ~8× faster than Spark's interpreted
    higher-order folds; ``"expr"`` keeps the pure-JVM expression path
    (zero Python anywhere — for deployments that forbid Python workers).
    The two are interchangeable row-for-row (pytest-pinned)."""
    if impl == "arrow":
        return _encode_arrow(df, codebooks, vec_col, id_col, round_to,
                             stringify_codes, coarse, residual)
    if impl != "expr":
        raise ValueError(f"pq_encode: unknown impl {impl!r}")
    out, cols = _encoded_frame(df, codebooks, vec_col, id_col,
                               coarse, residual)
    m = len(codebooks)
    codes = "array(" + ", ".join(
        f"CAST(array_position(_d{s}, array_min(_d{s})) AS INT) - 1"
        for s in range(m)) + ")"
    err = " + ".join(f"array_min(_d{s})" for s in range(m))
    codes_out = (
        F.expr(f"array_join(transform({codes}, c -> CAST(c AS STRING)), ',')")
        if stringify_codes else F.expr(codes))
    return out.select(
        *cols, codes_out.alias("codes"),
        F.expr(floor_round(err, round_to)).alias("err"))


def _subspace_dists_np(X, book):
    """Squared-L2 to each centroid with the EXACT sequential op order of
    ``_dists_expr`` (and DuckDB's list fold): the accumulator adds one
    dimension's (a-b)*(a-b) per step, vectorized across rows/centroids —
    elementwise IEEE ops in the same written order, so every double is
    bit-identical to the JVM fold."""
    import numpy as np

    C = np.asarray(book, dtype=np.float64)
    n, k = X.shape[0], C.shape[0]
    acc = np.zeros((n, k))
    for i in range(C.shape[1]):
        d = X[:, i, None] - C[None, :, i]
        acc = acc + d * d
    return acc


def _encode_arrow(df: DataFrame, codebooks: list, vec_col: str,
                  id_col: str, round_to: int, stringify_codes: bool,
                  coarse: list | None, residual: bool) -> DataFrame:
    """Arrow-kernel encode: one ``mapInPandas`` over the corpus against
    broadcast codebooks. Same validation, same distances (bit-exact
    sequential-order numpy — :func:`_subspace_dists_np`), same
    first-position argmin, same HALF_UP err rounding as the expression
    path; the two implementations are interchangeable row-for-row
    (pytest-pinned). The win is constant-factor only: Spark interprets
    higher-order folds per row, numpy runs the same arithmetic as array
    ops (measured ~2.4 s -> ~0.3 s for the sf0.1 encode)."""
    total = sum(len(book[0]) for book in codebooks)
    if residual and coarse is None:
        raise ValueError("pq_encode: residual=True requires coarse")
    if coarse is not None and len(coarse[0]) != total:
        raise ValueError(
            f"pq_encode: coarse centroid dimension {len(coarse[0])} != "
            f"codebook dims {total}")
    # same parallelism lift as the expression path: a single-file input
    # would otherwise run the whole kernel in one task
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, target // 2):
        df = df.repartition(target)
    bc = df.sparkSession.sparkContext.broadcast(
        (codebooks, coarse, residual))
    id_type = [f.dataType.simpleString() for f in df.schema.fields
               if f.name == id_col][0]

    def gen(batches):
        import numpy as np
        import pandas as pd

        books, crs, res = bc.value
        cm = None if crs is None else np.asarray(crs, dtype=np.float64)
        for chunk in batches:
            vecs = chunk[vec_col].tolist()
            if not vecs:
                # an empty Arrow batch would make X 1-D and the
                # enc[:, start:...] slices below IndexError — emit
                # nothing for it (mapInPandas accepts a sparse yield)
                continue
            for vid, v in zip(chunk[id_col].tolist(), vecs):
                if v is None or len(v) != total or any(
                        x is None for x in v):
                    raise ValueError(
                        f"pq_encode: bad vector: length "
                        f"{'NULL' if v is None else len(v)} (codebook "
                        f"dims {total}) or NULL elements ({id_col}="
                        f"{vid})")
            X = np.asarray(vecs, dtype=np.float64)
            if X.size and np.isnan(X).any():
                raise ValueError(
                    "pq_encode: bad vector: NaN elements")
            out = {id_col: chunk[id_col]}
            enc = X
            if cm is not None:
                dc = _subspace_dists_np(X, crs)
                cell = dc.argmin(axis=1)          # first-position argmin
                out["cell"] = pd.array(cell.astype("int32"),
                                       dtype="int32")
                if res:
                    enc = X - cm[cell]
            codes_cols, err = [], None
            start = 0
            for book in books:
                w = len(book[0])
                d = _subspace_dists_np(enc[:, start:start + w], book)
                c = d.argmin(axis=1)
                codes_cols.append(c.astype("int32"))
                mins = d[np.arange(d.shape[0]), c]
                err = mins if err is None else err + mins
                start += w
            codes = [list(map(int, row)) for row in zip(*codes_cols)] \
                if codes_cols and X.size else [[] for _ in vecs]
            if stringify_codes:
                out["codes"] = pd.Series(
                    [",".join(str(c) for c in row) for row in codes],
                    dtype="object")
            else:
                out["codes"] = pd.Series(codes, dtype="object")
            out["err"] = pd.array(
                [floor_round_py(float(e), round_to) for e in err]
                if err is not None else [], dtype="float64")
            yield pd.DataFrame(out)

    cell_part = "cell int, " if coarse is not None else ""
    codes_type = "string" if stringify_codes else "array<int>"
    schema = (f"{id_col} {id_type}, {cell_part}"
              f"codes {codes_type}, err double")
    # a single-row-group scan delivers the whole corpus as ONE Arrow
    # batch on one task, serializing the encode (the lsh_buckets
    # pattern) — conditional round-robin spread, no-op on corpus-sized
    # inputs; per-row kernel, so codes are partitioning-invariant, and
    # no downstream consumer keys on id, so a hash spread buys nothing
    from .skew import spread_partitions

    return (spread_partitions(df.select(id_col, vec_col))
            .mapInPandas(gen, schema))


def _encoded_frame(df: DataFrame, codebooks: list, vec_col: str,
                   id_col: str, coarse: list | None,
                   residual: bool):
    """Shared encode projection: validates inputs and binds _xd (guarded
    double vector), _dc/cell (coarse assignment), _rd (residual) and the
    per-subspace distance arrays _d{s}. pq_encode reads codes/err off
    it; pq_reconstruct reads the decoded approximation."""
    # each subspace's 64-element distance array is referenced THREE times
    # (argmin position, min for codes, min again for err) — bind it ONCE
    # as a column in its own projection. CollapseProject leaves the
    # binding alone because the alias is non-cheap and multiply
    # referenced; inlining it cost 3× the encode (measured 11.7 s → 4 s
    # for 2 000 rows at m=32, k=64).
    # encode is CPU-bound narrow work (m·k interpreted folds per row): a
    # corpus that arrives in fewer partitions than the session has cores
    # (one small parquet file → one task) would serialize it — round-robin
    # up to the default parallelism first. At scale inputs already carry
    # ≥cores partitions and this is a no-op.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, target // 2):
        df = df.repartition(target)
    total = sum(len(book[0]) for book in codebooks)
    # row-level dimension guard: slice() would otherwise silently encode
    # only the first `total` dims of a longer vector (or garbage for a
    # shorter one). assert_true throws per offending row; it lives inside
    # _xd so every consumer (codes AND err) keeps it through pruning.
    if residual and coarse is None:
        raise ValueError("pq_encode: residual=True requires coarse")
    if coarse is not None and len(coarse[0]) != total:
        # without this, zip_with null-pads the shorter side, every coarse
        # distance folds to NULL, cell comes out NULL for EVERY row, and
        # a downstream cell join silently returns zero rows — a config
        # error must fail at build time, not vanish into an empty result
        raise ValueError(
            f"pq_encode: coarse centroid dimension {len(coarse[0])} != "
            f"codebook dims {total}")
    # the guard also rejects NULL elements: a null component would fold
    # every distance for its subspace to NULL → NULL codes → NULL
    # adc_dist, and ascending order puts NULLs FIRST — a silently
    # corrupt row would win every top-k. coalesce keeps the error
    # message readable for a NULL vector (size(NULL) is NULL).
    out = df.withColumn("_xd", F.expr(
        f"CASE WHEN size({vec_col}) = {total} "
        f"AND NOT exists({vec_col}, v -> v IS NULL) "
        f"THEN transform({vec_col}, v -> CAST(v AS DOUBLE)) "
        f"ELSE array(CAST(assert_true(false, concat('pq_encode: bad "
        f"vector: length ', coalesce(CAST(size({vec_col}) AS STRING), "
        f"'NULL'), ' (codebook dims {total}) or NULL elements')) "
        f"AS DOUBLE)) END"))
    cols = [F.col(id_col)]
    enc = "_xd"
    if coarse is not None:
        out = out.withColumn("_dc", F.expr(_dists_expr("_xd", coarse)))
        out = out.withColumn("cell", F.expr(
            "CAST(array_position(_dc, array_min(_dc)) AS INT) - 1"))
        cols.append(F.col("cell"))
        if residual:
            cmat = _centroid_array_sql(coarse)
            out = out.withColumn("_rd", F.expr(
                f"zip_with(_xd, element_at({cmat}, cell + 1), "
                "(a, b) -> a - b)"))
            enc = "_rd"
    start = 0
    for s, book in enumerate(codebooks):
        width = len(book[0])
        sub = f"slice({enc}, {start + 1}, {width})"
        out = out.withColumn(f"_d{s}", F.expr(_dists_expr(sub, book)))
        start += width
    return out, cols


def _reconstruct_arrow(df: DataFrame, codebooks: list, vec_col: str,
                       id_col: str, round_to: int,
                       coarse: list | None, residual: bool) -> DataFrame:
    """Arrow-kernel decode: same bit-exact sequential distances as
    :func:`_encode_arrow`, then the nearest centroid's exact literal
    values (+ the coarse centroid in residual mode, the identical
    elementwise add) rounded HALF_UP per component — row-for-row equal
    to the expression path (pytest-pinned)."""
    total = sum(len(book[0]) for book in codebooks)
    if residual and coarse is None:
        raise ValueError("pq_encode: residual=True requires coarse")
    if coarse is not None and len(coarse[0]) != total:
        raise ValueError(
            f"pq_encode: coarse centroid dimension {len(coarse[0])} != "
            f"codebook dims {total}")
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, target // 2):
        df = df.repartition(target)
    bc = df.sparkSession.sparkContext.broadcast(
        (codebooks, coarse, residual))
    id_type = [f.dataType.simpleString() for f in df.schema.fields
               if f.name == id_col][0]

    def gen(batches):
        import numpy as np
        import pandas as pd

        books, crs, res = bc.value
        cm = None if crs is None else np.asarray(crs, dtype=np.float64)
        book_mats = [np.asarray(b, dtype=np.float64) for b in books]
        for chunk in batches:
            vecs = chunk[vec_col].tolist()
            if not vecs:
                continue  # same empty-batch guard as the encode kernel
            for vid, v in zip(chunk[id_col].tolist(), vecs):
                if v is None or len(v) != total or any(
                        x is None for x in v):
                    raise ValueError(
                        f"pq_encode: bad vector: length "
                        f"{'NULL' if v is None else len(v)} (codebook "
                        f"dims {total}) or NULL elements ({id_col}="
                        f"{vid})")
            X = np.asarray(vecs, dtype=np.float64)
            if X.size and np.isnan(X).any():
                raise ValueError("pq_encode: bad vector: NaN elements")
            out = {id_col: chunk[id_col]}
            enc = X
            cell = None
            if cm is not None:
                dc = _subspace_dists_np(X, crs)
                cell = dc.argmin(axis=1)
                out["cell"] = pd.array(cell.astype("int32"),
                                       dtype="int32")
                if res:
                    enc = X - cm[cell]
            parts, start = [], 0
            for book, mat in zip(books, book_mats):
                w = len(book[0])
                d = _subspace_dists_np(enc[:, start:start + w], book)
                parts.append(mat[d.argmin(axis=1)])
                start += w
            recon = np.concatenate(parts, axis=1) if parts else X
            if res:
                recon = recon + cm[cell]
            out["approx"] = pd.Series(
                [[floor_round_py(float(v), round_to) for v in row]
                 for row in recon], dtype="object")
            yield pd.DataFrame(out)

    cell_part = "cell int, " if coarse is not None else ""
    schema = (f"{id_col} {id_type}, {cell_part}approx array<double>")
    # same 1-Arrow-batch serialization as _encode_arrow — see there
    from .skew import spread_partitions

    return (spread_partitions(df.select(id_col, vec_col))
            .mapInPandas(gen, schema))


def pq_reconstruct(df: DataFrame, codebooks: list,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   round_to: int = 6, coarse: list | None = None,
                   residual: bool = False,
                   stringify: bool = False,
                   impl: str = "arrow",
                   explode: bool = False) -> DataFrame:
    """(id[, cell], approx): the PQ decode — each vector's quantized
    approximation, the concat over subspaces of the nearest centroid
    (plus the coarse centroid back in residual mode). The inspection /
    re-ranking counterpart of :func:`pq_encode` that completes the
    faiss-style surface (train / encode / search / reconstruct); one
    narrow projection, encode and decode fused — no stored codes needed.
    Components round to ``round_to`` for engine-portable output;
    ``stringify`` emits a CSV string for canonicalizers that cannot
    sort list cells.

    ``impl="arrow"`` (default) decodes in the same Arrow kernel family
    as :func:`pq_encode` — bit-identical, ~8× faster; the stringified
    form always takes the expression path (its CSV text must come from
    Spark's own double→string cast); ``explode`` emits one
    (id[, cell], dim, val) DOUBLE row per component instead — the
    WINDOW-SAFE shape (the driver's pandas canonicalizer cannot sort
    list cells, and the CSV forms text-diverge across engines)."""
    if explode:
        if stringify:
            raise ValueError(
                "pq_reconstruct: explode and stringify are exclusive")
        out = pq_reconstruct(df, codebooks, vec_col, id_col, round_to,
                             coarse, residual, False, impl)
        keep = [c for c in out.columns if c != "approx"]
        return out.select(*keep,
                          F.posexplode("approx").alias("dim", "val"))
    if impl == "arrow" and not stringify:
        return _reconstruct_arrow(df, codebooks, vec_col, id_col,
                                  round_to, coarse, residual)
    if impl not in ("arrow", "expr"):
        raise ValueError(f"pq_reconstruct: unknown impl {impl!r}")
    out, cols = _encoded_frame(df, codebooks, vec_col, id_col,
                               coarse, residual)
    # array_position is already the 1-based index element_at wants
    parts = ", ".join(
        f"element_at({_centroid_array_sql(book)}, "
        f"CAST(array_position(_d{s}, array_min(_d{s})) AS INT))"
        for s, book in enumerate(codebooks))
    recon = f"flatten(array({parts}))"
    if residual:
        cmat = _centroid_array_sql(coarse)
        recon = (f"zip_with({recon}, element_at({cmat}, cell + 1), "
                 "(a, b) -> a + b)")
    # CAST first: the centroid literals parse as DECIMAL, and a
    # decimal-typed round caps the representable magnitude at the
    # literal's precision — double is the contract (and what the arrow
    # path emits); the cast of the exact decimal literal is the same
    # correctly-rounded double the repr round-trip produces
    recon = (f"transform({recon}, v -> "
             + floor_round("CAST(v AS DOUBLE)", round_to) + ")")
    if stringify:
        recon = (f"array_join(transform({recon}, "
                 "v -> CAST(v AS STRING)), ',')")
    return out.select(*cols, F.expr(recon).alias("approx"))


def query_lut(q, codebooks: list) -> list:
    """Per-query ADC lookup table: m lists of ``||q_sub − centroid||²``.

    Pure-Python sequential folds — the SAME code runs executor-side (in
    :func:`_lut_df`'s mapInPandas) and in the oracle emitters, so the
    LUT doubles are bit-identical across engines regardless of where
    they were computed.
    """
    lut = []
    start = 0
    for book in codebooks:
        width = len(book[0])
        sub = q[start:start + width]
        lut.append([float(sum((sub[i] - c[i]) * (sub[i] - c[i])
                              for i in range(width)))
                    for c in book])
        start += width
    return lut


def _coarse_dists(q, coarse: list) -> list:
    """Squared-L2 to each coarse centroid — same sequential fold as the
    JVM-side ``_dists_expr`` kernel, so argmin/argsort agree bit-exactly."""
    return [float(sum((q[i] - c[i]) * (q[i] - c[i]) for i in range(len(c))))
            for c in coarse]


def probe_cells(q, coarse: list, n_probe: int) -> list[int]:
    """The ``n_probe`` nearest coarse cells, lowest-cell tie-break —
    deterministic, shared by the Spark query pass and the oracle."""
    dists = _coarse_dists(q, coarse)
    order = sorted(range(len(coarse)), key=lambda c: (dists[c], c))
    return order[:min(n_probe, len(coarse))]


def _lut_df(queries_df: DataFrame, codebooks: list, vec_col: str,
            id_col: str, coarse: list | None = None,
            n_probe: int = 0, residual: bool = False) -> DataFrame:
    """Distributed per-query LUT table — NO driver collect of queries.

    One ``mapInPandas`` over the query table against broadcast
    codebooks: each task builds its queries' m×k LUTs (and, when
    ``coarse`` is given, explodes each query to its ``n_probe`` probe
    cells; with ``residual`` each probed cell gets its OWN LUT over
    ``q − coarse_centroid[cell]`` — the IVFADC recipe). The query side
    scales like any other DataFrame — a corpus-sized query table
    streams through executors instead of serializing onto the driver.
    """
    total = sum(len(book[0]) for book in codebooks)
    if coarse is not None and len(coarse[0]) != total:
        # the executor-side probe_cells would silently truncate to the
        # shorter dimension and emit plausible-looking probe cells that
        # match nothing — fail the config error at build time instead
        raise ValueError(
            f"pq: coarse centroid dimension {len(coarse[0])} != "
            f"codebook dims {total}")
    bc = queries_df.sparkSession.sparkContext.broadcast(
        (codebooks, coarse, n_probe, residual))

    def gen(batches):
        import numpy as np
        import pandas as pd

        books, crs, p, res = bc.value
        cm = None if crs is None else np.asarray(crs, dtype=np.float64)
        for chunk in batches:
            ids, cells, luts = [], [], []
            for _, row in chunk.iterrows():
                if row[vec_col] is None:
                    # loud, like pq_encode's corpus-side guard: a NULL
                    # query would otherwise surface as an opaque numpy
                    # TypeError deep in the executor
                    raise ValueError(
                        f"pq: NULL query vector for {id_col}="
                        f"{row[id_col]}")
                q = np.asarray(row[vec_col], dtype=np.float64)
                if np.isnan(q).any():
                    # a NULL ELEMENT converts to NaN, every LUT entry
                    # and ADC distance for the query becomes NaN, and
                    # NaN-sorts-last would return the k lowest n_ids as
                    # plausible-looking "neighbors" — reject, matching
                    # pq_encode's per-element rejection
                    raise ValueError(
                        f"pq: NULL/NaN element in query vector "
                        f"{id_col}={int(row[id_col])}")
                if crs is None:
                    ids.append(int(row[id_col]))
                    luts.append(query_lut(q, books))
                else:
                    lut = None if res else query_lut(q, books)
                    for cell in probe_cells(q, crs, p):
                        ids.append(int(row[id_col]))
                        cells.append(cell)
                        # elementwise double subtract == Spark's zip_with
                        # (a, b) -> a - b, so residual LUTs stay bit-exact
                        luts.append(query_lut(q - cm[cell], books)
                                    if res else lut)
            out = {"q_id": pd.array(ids, dtype="int64")}
            if crs is not None:
                out["cell"] = pd.array(cells, dtype="int32")
            out["lut"] = pd.Series(luts, dtype="object")
            yield pd.DataFrame(out)

    schema = ("q_id long, cell int, lut array<array<double>>"
              if coarse is not None else
              "q_id long, lut array<array<double>>")
    return queries_df.select(id_col, vec_col).mapInPandas(gen, schema)


def _gate_lut_broadcast(queries_df: DataFrame, id_col: str, vec_col: str,
                        codebooks: list, n_probe: int = 1) -> bool:
    """Broadcast gate sized on the table actually broadcast: the LUT /
    probe table, which is (m·k·8 [· n_probe]) bytes per query — 32–128×
    the raw query vectors at the repo's own configs. Gating on the input
    vector table would wave through a query set whose LUT expansion
    blows the broadcast (the exact OOM the gate exists to prevent).
    Unknown input size → scale-safe (no broadcast), as everywhere else.
    """
    from flink_sql_security_spark.plan_stats import plan_size_bytes

    size = plan_size_bytes(queries_df.select(id_col, vec_col))
    if size is None:
        return False
    total = sum(len(book[0]) for book in codebooks)
    lut_doubles = sum(len(book) for book in codebooks)  # m·k entries
    per_row_in = max(1, total * 8 + 8)
    per_row_out = lut_doubles * 8 * max(1, n_probe) + 16
    return size * per_row_out // per_row_in <= BROADCAST_LIMIT_BYTES


def _adc_expr(m: int) -> str:
    """Unrolled ADC distance: explicit left-associated sum of the m
    table lookups. Bit-identical to the sequential fold
    ``aggregate(zip_with(codes, lut, (c, row) -> row[c+1]), 0D, +)``
    (same adds, same order) but ~3.4× faster on the scan (measured
    2.76 s → 0.82 s over sf0.1 codes × 10 queries): Spark interprets
    higher-order functions, and the fold form also allocates a zipped
    struct array per row-pair. This is THE hot loop at 100 TB — it runs
    once per (code row, probing query) pair."""
    terms = [f"element_at(lut[{s}], codes[{s}] + 1)" for s in range(m)]
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


def _adc_search(codes, probe_side, join, codebooks: list, id_col: str,
                k: int, round_to: int, own_codes: bool):
    """Shared ADC search tail: join the probe/LUT side onto the code
    table, unrolled ADC score, global top-k window. ``join`` is the one
    thing flat PQ and IVF-PQ disagree on (crossJoin vs join-on-cell)."""
    from flink_sql_security_spark.operators.cache import attach

    scored = (
        join(codes, probe_side)
        .where(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id", F.col(id_col).alias("n_id"),
            F.expr(floor_round(_adc_expr(len(codebooks)),
                               round_to)).alias("adc_dist"))
    )
    out = _rank_top_k(scored, k, "adc_dist", ascending=True)
    return attach(out, codes) if own_codes else out


def pq_topk(df: DataFrame, queries_df: DataFrame, codebooks: list,
            vec_col: str = "embedding", id_col: str = "vec_id",
            k: int = 5, round_to: int = 6,
            codes_df: DataFrame | None = None,
            mode: str = "auto",
            corpus_rows: int | None = None,
            coarse: list | None = None, n_cells: int = 64,
            n_probe: int = 8, coarse_sample: int = 2048) -> DataFrame:
    """(q_id, n_id, adc_dist, rank): approximate top-k by ADC distance.

    Per query the m×k_cb LUT of ``||q_sub − centroid||²`` is built
    EXECUTOR-side (:func:`_lut_df` — the query table never collects to
    the driver); the corpus codes score with an m-step fold of exact
    element lookups. The LUT side broadcasts only when the optimizer
    proves it under ``BROADCAST_LIMIT_BYTES`` (:func:`_gate_lut_broadcast`);
    a large/unknown query side joins without the hint. Approximate by
    design (quantization error) — recall tuned by (m, k_cb); every
    distance is engine-exact, so the op is strictly oracle-checkable.

    Scale gate (``mode``): flat ADC scans the FULL code table per query
    — affordable only on a small corpus. ``mode='auto'`` (default)
    routes through :func:`ivfpq_topk` (cell-pruned scan, ~n_probe/
    n_cells of the code table per query) when the corpus EXCEEDS
    ``FLAT_LIMIT_ROWS`` rows. The routing key is the EXACT row count —
    ``corpus_rows`` if the caller passes it, else one ``df.count()``
    job — so the same logical corpus routes identically regardless of
    file layout, compression, or optimizer statistics (the former
    plan-size-estimate key was layout-dependent). A coarse quantizer
    is trained with the deterministic :func:`coarse_train` recipe
    unless ``coarse`` is passed. The count is cheap on a plain parquet
    scan (column-pruned footer-driven pass) but executes the FULL
    upstream lineage on a derived/unpersisted corpus frame — so in
    serving loops pass ``corpus_rows`` (skips the job entirely), pin
    ``mode``, or hand a prebuilt cell-keyed ``codes_df``; per-call
    auto-routing of an expensive derived corpus pays its lineage twice
    (once to count, once to encode/scan).
    ``mode='flat'`` pins the exhaustive scan regardless of size (the
    strictly-oracle-checkable shape). A caller-provided ``codes_df``
    implies flat (a flat index has no ``cell`` column to prune on).
    The auto route is announced at INFO level (``logging``) so serving
    paths comparing runs can see which tier answered. Routed results
    are IVF-PQ's: same schema, recall additionally shaped by
    (n_cells, n_probe).
    """
    return _pq_topk(df, queries_df, codebooks, vec_col, id_col, k,
                    round_to, codes_df, mode, corpus_rows, None, coarse,
                    n_cells, n_probe, coarse_sample)


def _pq_topk(df: DataFrame, queries_df: DataFrame, codebooks: list,
             vec_col: str, id_col: str, k: int, round_to: int,
             codes_df: DataFrame | None, mode: str,
             corpus_rows: int | None, gate=None,
             coarse: list | None = None, n_cells: int = 64,
             n_probe: int = 8, coarse_sample: int = 2048) -> DataFrame:
    """:func:`pq_topk` with the LUT broadcast decided by ``gate(n)``: may
    a table of ``n`` LUTs per query broadcast? The flat route asks for
    n = 1, the IVF route for ``n_probe``. ``gate=None`` sizes
    ``queries_df`` with :func:`_gate_lut_broadcast`."""
    if gate is None:
        def gate(n: int) -> bool:
            return _gate_lut_broadcast(queries_df, id_col, vec_col,
                                       codebooks, n_probe=n)
    if mode not in ("auto", "flat", "ivf"):
        raise ValueError(f"pq_topk mode must be auto|flat|ivf: {mode!r}")
    if codes_df is None and mode != "flat":
        route = mode == "ivf"
        if mode == "auto":
            rows = (corpus_rows if corpus_rows is not None
                    else df.select(id_col).count())
            route = rows > FLAT_LIMIT_ROWS
            if route:
                import logging

                logging.getLogger(__name__).info(
                    "pq_topk mode='auto' routing to IVF-PQ: corpus "
                    "rows %d > FLAT_LIMIT_ROWS %d", rows,
                    FLAT_LIMIT_ROWS)
        if route:
            if coarse is None:
                coarse = coarse_train(df, vec_col, id_col,
                                      n_cells=n_cells,
                                      sample=coarse_sample)
            return _ivfpq_topk(df, queries_df, coarse, codebooks, vec_col,
                               id_col, k, n_probe, round_to, False, None,
                               gate(n_probe))
    luts = _lut_df(queries_df, codebooks, vec_col, id_col)
    if gate(1):
        luts = F.broadcast(luts)

    # persist the code table: without the materialization boundary
    # Catalyst collapses the (expensive, m·k-fold) encode projection INTO
    # the broadcast join and re-evaluates it once per emitted (row, query)
    # pair — measured 13.9 s vs 2.5 s at sf0.1 with 10 queries (the
    # round-2 "pushdown re-inlines derived columns" failure mode). The
    # handle attaches to the result for cache.release(); at scale the
    # code table is the persisted artifact by design — that is PQ's point.
    # ``codes_df`` (a pre-built pq_encode output — the stored index in
    # the build-once/probe-many production shape) skips the encode; its
    # lifetime then belongs to the caller, so nothing attaches.
    own_codes = codes_df is None
    codes = (pq_encode(df, codebooks, vec_col, id_col).persist()
             if own_codes else codes_df)
    return _adc_search(codes, luts, lambda c, l: c.crossJoin(l),
                       codebooks, id_col, k, round_to, own_codes)


def ivfpq_train(df: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id", n_cells: int = 16,
                m: int = 16, k: int = 16, iters: int = 3,
                sample: int = 2048) -> tuple:
    """(coarse, codebooks) for residual IVFADC: the coarse quantizer
    fits on the sample, then the PQ codebooks train on the sample's
    RESIDUALS ``x − coarse_centroid[cell]`` (Jégou et al. 2011 §IV) —
    residuals are much smaller than raw coordinates, so the same (m, k)
    budget quantizes far more finely. Deterministic end to end; the
    oracle emitter re-derives both from the parquet."""
    return ivfpq_train_np(_sample_matrix(df, vec_col, id_col, sample),
                           n_cells, m, k, iters)


def ivfpq_train_np(X, n_cells: int, m: int, k: int, iters: int) -> tuple:
    import numpy as np

    C = l2_kmeans_np(X, n_cells, iters)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    R = X - C[np.argmin(d2, axis=1)]
    books = pq_train_np(R, m, k, iters)
    return [[float(v) for v in c] for c in C], books


def coarse_train(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id", n_cells: int = 16,
                 iters: int = 3, sample: int = 2048) -> list:
    """IVF coarse quantizer: n_cells L2 centroids over the full vectors.

    Same bounded-sample recipe as :func:`pq_train` (lowest-id ``sample``
    rows, deterministic Lloyd) — the oracle re-derives identical
    centroids from the parquet.
    """
    X = _sample_matrix(df, vec_col, id_col, sample)
    return [[float(v) for v in c] for c in l2_kmeans_np(X, n_cells, iters)]


def ivfpq_topk(df: DataFrame, queries_df: DataFrame, coarse: list,
               codebooks: list, vec_col: str = "embedding",
               id_col: str = "vec_id", k: int = 5, n_probe: int = 4,
               round_to: int = 6, residual: bool = False,
               codes_df: DataFrame | None = None) -> DataFrame:
    """(q_id, n_id, adc_dist, rank): IVF-PQ — ADC pruned to probed cells.

    The composition that makes PQ a 100 TB plan: the coarse quantizer
    routes every code row to a ``cell`` (computed inside the encode
    projection — one corpus scan emits cell + codes together) and every
    query to its ``n_probe`` nearest cells; the ADC join keys on
    ``cell``, so each query scores ~n_probe/n_cells of the code table
    instead of all of it (Jégou et al. 2011, the IVFADC system). Both
    sides of the join are deterministic sequential-fold artifacts, so
    the op stays strictly oracle-checkable; recall is tuned by
    (n_cells, n_probe) on top of flat PQ's (m, k_cb).

    Query side is distributed (:func:`_lut_df`); the probe table
    broadcasts only when the optimizer proves the query table small,
    otherwise the join shuffles on ``cell`` — the scale-safe default.

    ``residual=True`` is full IVFADC: codes and LUTs are computed over
    ``x − coarse_centroid[cell]`` (codebooks from :func:`ivfpq_train`).
    On CLUSTERED corpora — the realistic embedding regime — this is the
    difference between useless and useful within-cluster ranking:
    measured recall@5 vs exact L2 on an 8-cluster corpus is 0.66
    residual vs 0.20 non-residual (raw-vector codes collapse inside a
    tight cluster; residual codes still separate members). On
    near-uniform random vectors (PQ's worst case) it is a wash
    (0.60/0.74 vs 0.63/0.74 at n_probe 4/8). Each probed cell gets its
    own LUT, so query-side LUT work is ×n_probe.
    """
    # the probes table carries one LUT per probed cell (deliberate for
    # residual mode where per-cell LUTs differ; for non-residual it
    # trades n_probe× LUT volume on the SMALL side for a single join —
    # re-joining LUTs by q_id would instead re-shuffle the big scored
    # table). The gate accounts for the ×n_probe expansion.
    return _ivfpq_topk(df, queries_df, coarse, codebooks, vec_col, id_col,
                       k, n_probe, round_to, residual, codes_df,
                       _gate_lut_broadcast(queries_df, id_col, vec_col,
                                           codebooks, n_probe=n_probe))


def _ivfpq_topk(df: DataFrame, queries_df: DataFrame, coarse: list,
                codebooks: list, vec_col: str, id_col: str, k: int,
                n_probe: int, round_to: int, residual: bool,
                codes_df: DataFrame | None, small_q: bool) -> DataFrame:
    """:func:`ivfpq_topk` with the probe-table broadcast decided by the
    caller."""
    probes = _lut_df(queries_df, codebooks, vec_col, id_col,
                     coarse=coarse, n_probe=n_probe, residual=residual)
    if small_q:
        probes = F.broadcast(probes)

    # persist: same materialization boundary as pq_topk — at scale the
    # (cell, codes) table IS the index artifact, built once, probed many.
    # ``codes_df`` = that pre-built artifact (pq_encode with the SAME
    # coarse/residual settings); lifetime belongs to the caller.
    own_codes = codes_df is None
    codes = (pq_encode(df, codebooks, vec_col, id_col,
                       coarse=coarse, residual=residual).persist()
             if own_codes else codes_df)
    return _adc_search(codes, probes, lambda c, pr: c.join(pr, "cell"),
                       codebooks, id_col, k, round_to, own_codes)


_SQ_L2 = ("aggregate(zip_with({a}, {b}, (x, y) -> "
          "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
          "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
          "0D, (acc, v) -> acc + v)")


def ivfpq_rerank(df: DataFrame, queries_df: DataFrame, coarse: list,
                 codebooks: list, vec_col: str = "embedding",
                 id_col: str = "vec_id", k: int = 5, n_probe: int = 4,
                 rerank: int = 4, round_to: int = 6,
                 residual: bool = False,
                 codes_df: DataFrame | None = None) -> DataFrame:
    """(q_id, n_id, exact_dist, rank): IVF-PQ shortlist + exact rerank.

    The two-stage production search (faiss ``IndexRefine`` over
    ``IndexIVFPQ``): stage 1 is :func:`ivfpq_topk` widened to
    ``k · rerank`` candidates — ADC over quantized codes, touching only
    ``n_probe / n_cells`` of the code table; stage 2 re-scores ONLY that
    shortlist with exact squared L2 over the raw vectors and keeps the
    true top-k. Quantization error decides which ~k·rerank survive; the
    final ordering is exact — recall recovers most of the gap to brute
    force at shortlist cost, not corpus cost.

    Scale shape: the shortlist is |Q|·k·rerank id-pairs — vanishingly
    small next to the vector store — so the stage-2 vector fetch is a
    join of a small candidate table against ``df`` on id (broadcast when
    the optimizer proves the query side small via the same LUT gate as
    stage 1, shuffle otherwise). The raw-vector store is touched only at
    shortlist ids; no full-corpus exact scan ever happens.

    Exactness: the stage-2 distance is the engine-exact sequential fold
    ``aggregate(zip_with(q, n, (x,y) -> (x−y)²), 0D, +)`` — identical
    op order to the oracle's ``list_sum(list_transform(list_zip(...)))``
    — so the full composition stays strictly hash-checkable.

    Reference scope note: no vector search exists in the reference repo;
    this extends the engine per the driver brief (see module docstring).
    """
    from flink_sql_security_spark.operators.cache import attach, cached_deps

    # one broadcast decision for both stages: the stage-2 candidate
    # table is per-query k·rerank (id, id) rows — proportional to the
    # QUERY side, like stage 1's probe table (small-proof → broadcast
    # against the big vector store; unknown → scale-safe shuffle join)
    small_q = _gate_lut_broadcast(queries_df, id_col, vec_col, codebooks,
                                  n_probe=n_probe)
    shortlist = _ivfpq_topk(df, queries_df, coarse, codebooks, vec_col,
                            id_col, k * rerank, n_probe, round_to,
                            residual, codes_df, small_q)
    cand = shortlist.select("q_id", "n_id")
    if small_q:
        cand = F.broadcast(cand)
    nvec = df.select(F.col(id_col).alias("n_id"),
                     F.col(vec_col).alias("_nv"))
    qvec = queries_df.select(F.col(id_col).alias("q_id"),
                             F.col(vec_col).alias("_qv"))
    if small_q:
        qvec = F.broadcast(qvec)
    scored = (nvec.join(cand, "n_id")
              .join(qvec, "q_id")
              .select("q_id", "n_id",
                      F.expr(floor_round(_SQ_L2.format(a="_qv", b="_nv"),
                                         round_to)).alias("exact_dist")))
    return attach(_rank_top_k(scored, k, "exact_dist", ascending=True),
                  *cached_deps(shortlist))
