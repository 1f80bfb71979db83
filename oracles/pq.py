"""Product-quantization oracles (``operators/pq.py`` and ``operators/opq.py``)."""

from flink_sql_security_spark.functions.text import floor_round_py
from flink_sql_security_spark.operators.opq import (
    opq_ivf_train_np, opq_train_np, r_cols)
from flink_sql_security_spark.operators.pq import (
    ivfpq_train_np, l2_kmeans_np, pq_train_np, probe_cells, query_lut)

from oracles.common import (
    argmin, centroid_array, centroid_dists, floor_round, sq_l2)


def _rotate_expr(xd: str, R: list, round_to: int) -> str:
    """DuckDB twin of ``opq._rotate_expr``."""
    return (f"list_transform({centroid_array(r_cols(R))}, c -> "
            + floor_round(
                f"list_sum(list_transform(list_zip(c, {xd}), "
                "p -> p[1] * p[2]))", round_to) + ")")


def _rotate_py(q, R: list, round_to: int = 6) -> list:
    """Python twin of the engine rotation: sequential left fold per
    component + the shared floor rule — bit-identical to the Spark
    ``aggregate`` fold and the DuckDB ``list_sum`` fold."""
    out = []
    for col in r_cols(R):
        acc = 0.0
        for c, x in zip(col, q):
            acc += c * float(x)
        out.append(floor_round_py(acc, round_to))
    return out


def opq_topk_duckdb_sql(parquet_path: str, query_pred: str = "vec_id < 10",
                        vec_col: str = "embedding",
                        id_col: str = "vec_id", m: int = 16,
                        k_cb: int = 16, iters: int = 3,
                        opq_iters: int = 3, sample: int = 2048,
                        k: int = 5, round_to: int = 6,
                        table: str = "embeddings") -> str:
    """Oracle for :func:`opq_topk`: re-derives (R, codebooks) from the
    parquet with the same numpy, recomputes the rotation IN SQL with the
    identical fold + floor rule, rotates the query set in Python with
    the bit-equal twin, and runs ``pq_topk_duckdb_sql``'s flat-ADC
    search over the rotated vectors."""
    X, queries = _oracle_inputs(parquet_path, vec_col, id_col, sample,
                                query_pred)
    R, books = opq_train_np(X, m, k_cb, iters, opq_iters, round_to)
    return _adc_topk_sql(
        _rotated_vectors_sql(R, vec_col, id_col, table, round_to),
        _query_rotation(R, round_to), queries, books, id_col, k, round_to)


def _rotated_vectors_sql(R: list, vec_col: str, id_col: str, table: str,
                         round_to: int) -> str:
    """(id, xd): the table's vectors rotated in SQL — the oracle checks
    :func:`opq_rotate` instead of reusing it."""
    return (f"SELECT {id_col}, "
            + _rotate_expr("xd", R, round_to)
            + f" AS xd FROM ({_double_vectors_sql(vec_col, id_col, table)})")


def _query_rotation(R: list, round_to: int):
    """A query vector → its rotation, by the bit-equal Python twin."""
    import numpy as np

    return lambda vec: np.asarray(_rotate_py(vec, R, round_to))


def opq_ivf_topk_duckdb_sql(parquet_path: str,
                            query_pred: str = "vec_id < 10",
                            vec_col: str = "embedding",
                            id_col: str = "vec_id", m: int = 16,
                            k_cb: int = 16, iters: int = 3,
                            opq_iters: int = 3, n_cells: int = 16,
                            n_probe: int = 4, sample: int = 2048,
                            k: int = 5, round_to: int = 6,
                            residual: bool = False,
                            table: str = "embeddings") -> str:
    """Oracle for :func:`opq_ivf_topk`: (R, coarse, codebooks) re-derive
    from the parquet with the same numpy; the rotation recomputes IN SQL
    (fold + floor rule), cell assignment / encode / the cell-keyed ADC
    join verify over the rotated vectors, and the per-query probe sets +
    LUTs come from the bit-equal Python rotation twin."""
    X, queries = _oracle_inputs(parquet_path, vec_col, id_col, sample,
                                query_pred)
    R, coarse, books = opq_ivf_train_np(
        X, m, k_cb, iters, opq_iters, n_cells, round_to, residual)
    return _adc_topk_sql(
        _rotated_vectors_sql(R, vec_col, id_col, table, round_to),
        _query_rotation(R, round_to), queries, books, id_col, k, round_to,
        coarse, n_probe, residual)


def _oracle_inputs(parquet_path: str, vec_col: str, id_col: str,
                   sample: int, query_pred: str | None = None):
    """(X, queries): what an oracle emitter reads from the parquet — the
    training sample (the ``sample`` lowest-id vectors, the
    :func:`_sample_matrix` rows) as a float64 matrix and, given
    ``query_pred``, the (id, vector) query rows in id order."""
    import duckdb
    import numpy as np

    src = f"SELECT {id_col}, {vec_col} FROM read_parquet('{parquet_path}')"
    pdf = duckdb.sql(f"{src} ORDER BY {id_col} LIMIT {sample}").df()
    queries = [] if query_pred is None else [
        (int(i), v) for i, v in duckdb.sql(
            f"{src} WHERE {query_pred} ORDER BY {id_col}").fetchall()]
    X = np.array([np.asarray(v, dtype=np.float64)
                  for v in pdf[vec_col].tolist()])
    return X, queries


def _double_vectors_sql(vec_col: str, id_col: str,
                        table: str = "embeddings") -> str:
    """(id, xd): the table's vectors as DOUBLE lists."""
    return (f"SELECT {id_col}, list_transform({vec_col}, "
            f"v -> CAST(v AS DOUBLE)) AS xd FROM {table}")


def _as_double(vec):
    import numpy as np

    return np.asarray(vec, dtype=np.float64)


def _dists_sql(vals: list, src: str, start: int, width: int) -> str:
    """DuckDB list of squared-L2 distances from the slice
    ``src[start:start + width - 1]`` (1-based) to each centroid of
    ``vals`` — the sequential fold of ``_dists_expr``."""
    return centroid_dists(centroid_array(vals),
                          f"{src}[{start}:{start + width - 1}]")


def _subspace_dists_sql(books: list, src: str) -> list[str]:
    """Per codebook, :func:`_dists_sql` over its subspace of ``src``."""
    out, start = [], 1
    for book in books:
        out.append(_dists_sql(book, src, start, len(book[0])))
        start += len(book[0])
    return out


def pq_reconstruct_duckdb_sql(parquet_path: str,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id", m: int = 16,
                              k: int = 16, iters: int = 3,
                              sample: int = 2048, round_to: int = 6,
                              n_cells: int | None = None,
                              residual: bool = False,
                              stringify: bool = False,
                              explode: bool = False) -> str:
    """Oracle for :func:`pq_reconstruct` — codebooks (and coarse, when
    ``n_cells``) re-derive from the parquet; the SQL recomputes codes
    and concatenates the same centroid literals."""
    X, _ = _oracle_inputs(parquet_path, vec_col, id_col, sample)
    coarse = None
    if residual:
        coarse, books = ivfpq_train_np(X, n_cells, m, k, iters)
    elif n_cells is not None:
        books = pq_train_np(X, m, k, iters)
        coarse = [[float(v) for v in c]
                  for c in l2_kmeans_np(X, n_cells, iters)]
    else:
        books = pq_train_np(X, m, k, iters)

    sel_cell = ""
    src_cte = f"x AS ({_double_vectors_sql(vec_col, id_col)})"
    enc = "xd"
    if coarse is not None:
        cell = argmin(_dists_sql(coarse, "xd", 1, len(coarse[0])))
        src_cte += (f", cells AS (SELECT {id_col}, xd, {cell} AS cell "
                    "FROM x)")
        sel_cell = "cell, "
        if residual:
            cmat = centroid_array(coarse)
            src_cte += (f", enc AS (SELECT {id_col}, cell, "
                        f"list_transform(list_zip(xd, ({cmat})[cell + 1]), "
                        "p -> p[1] - p[2]) AS rd FROM cells)")
            enc = "rd"
        else:
            src_cte += (f", enc AS (SELECT {id_col}, cell, xd FROM cells)")
    else:
        src_cte += f", enc AS (SELECT {id_col}, xd FROM x)"
    recon = " || ".join(
        f"({centroid_array(book)})"
        f"[list_position({d}, list_min({d}))]"
        for book, d in zip(books, _subspace_dists_sql(books, enc)))
    if residual:
        cmat = centroid_array(coarse)
        recon = (f"list_transform(list_zip({recon}, ({cmat})[cell + 1]), "
                 "p -> p[1] + p[2])")
    recon = (f"list_transform({recon}, v -> "
             + floor_round("CAST(v AS DOUBLE)", round_to) + ")")
    if explode:
        if stringify:
            raise ValueError(
                "pq_reconstruct_duckdb_sql: explode and stringify are "
                "exclusive")
        d = X.shape[1]
        return (f"WITH {src_cte}, p AS (SELECT {id_col}, {sel_cell}"
                f"{recon} AS approx FROM enc) "
                f"SELECT {id_col}, {sel_cell}CAST(i - 1 AS INT) AS dim, "
                f"approx[i] AS val "
                f"FROM p, UNNEST(range(1, {d + 1})) AS t(i)")
    if stringify:
        recon = f"array_to_string({recon}, ',')"
    return (f"WITH {src_cte} "
            f"SELECT {id_col}, {sel_cell}{recon} AS approx FROM enc")


def pq_encode_duckdb_sql(parquet_path: str, vec_col: str = "embedding",
                         id_col: str = "vec_id", m: int = 16, k: int = 16,
                         iters: int = 3, sample: int = 2048,
                         round_to: int = 6,
                         stringify_codes: bool = False) -> str:
    """Oracle: re-derives identical codebooks from the parquet (same
    numpy, same sample order), recomputes codes/err with list functions
    in the same fold order."""
    X, _ = _oracle_inputs(parquet_path, vec_col, id_col, sample)
    dists = _subspace_dists_sql(pq_train_np(X, m, k, iters), "xd")
    codes = "[" + ", ".join(argmin(d) for d in dists) + "]"
    codes_out = (f"array_to_string({codes}, ',')" if stringify_codes
                 else codes)
    err = " + ".join(f"(list_min({d}))" for d in dists)
    return (
        f"WITH x AS ({_double_vectors_sql(vec_col, id_col)}) "
        f"SELECT {id_col}, {codes_out} AS codes, "
        + floor_round(err, round_to) + " AS err FROM x"
    )


def pq_topk_duckdb_sql(parquet_path: str, query_pred: str = "vec_id < 20",
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       m: int = 16, k_cb: int = 16, iters: int = 3,
                       sample: int = 2048, k: int = 5,
                       round_to: int = 6) -> str:
    """Oracle for :func:`pq_topk` — codebooks AND per-query LUTs re-derive
    from the parquet with the same numpy/fold code and embed as literals;
    the SQL verifies encode + ADC scoring + deterministic ranking."""
    X, queries = _oracle_inputs(parquet_path, vec_col, id_col, sample,
                                query_pred)
    return _adc_topk_sql(_double_vectors_sql(vec_col, id_col), _as_double,
                         queries, pq_train_np(X, m, k_cb, iters), id_col,
                         k, round_to)


def ivfpq_topk_duckdb_sql(parquet_path: str, query_pred: str = "vec_id < 20",
                          vec_col: str = "embedding", id_col: str = "vec_id",
                          m: int = 16, k_cb: int = 16, iters: int = 3,
                          sample: int = 2048, n_cells: int = 16,
                          n_probe: int = 4, k: int = 5,
                          round_to: int = 6,
                          residual: bool = False) -> str:
    """Oracle for :func:`ivfpq_topk` — coarse centroids, codebooks,
    per-query probe sets AND LUTs all re-derive from the parquet with the
    same numpy/fold code and embed as literals; the SQL verifies the
    distributed work: cell assignment (argmin over sequential-fold L2),
    PQ encode (over the residual when ``residual``), the cell-keyed ADC
    join, and deterministic ranking."""
    X, queries = _oracle_inputs(parquet_path, vec_col, id_col, sample,
                                query_pred)
    if residual:
        coarse, books = ivfpq_train_np(X, n_cells, m, k_cb, iters)
    else:
        books = pq_train_np(X, m, k_cb, iters)
        coarse = [[float(v) for v in c]
                  for c in l2_kmeans_np(X, n_cells, iters)]
    return _adc_topk_sql(_double_vectors_sql(vec_col, id_col), _as_double,
                         queries, books, id_col, k, round_to, coarse,
                         n_probe, residual)


def _adc_topk_sql(vectors_sql: str, query_vector, queries: list,
                  books: list, id_col: str, k: int, round_to: int,
                  coarse: list | None = None, n_probe: int = 0,
                  residual: bool = False) -> str:
    """The one DuckDB twin of the ADC search (:func:`_adc_search`).

    ``vectors_sql`` selects (id, xd), the double vectors the corpus codes
    encode; ``query_vector`` maps a query row's vector into that space
    (a float64 array). Each query's LUTs come from the same
    :func:`query_lut` the Spark side runs and embed as literals. Flat
    when ``coarse`` is None: every code row scores against every query.
    Otherwise each code row gets its cell (first argmin over the coarse
    L2), each query probes its ``n_probe`` cells, and the join keys on
    cell; ``residual`` encodes and builds LUTs over x − centroid[cell]."""
    import numpy as np

    def lut_sql(q) -> str:
        # CAST each element: a bare literal parses as DECIMAL and the
        # fold would run exact decimal math instead of the IEEE double
        # sequence Spark's aggregate() produces
        return "[" + ", ".join(
            "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in sub) + "]"
            for sub in query_lut(q, books)) + "]"

    ctes = [f"x AS ({vectors_sql})"]
    rows = []
    if coarse is None:
        src, enc, cell, null_cell = "x", "xd", "", ""
        join = "CROSS JOIN probes l"
        for qid, vec in queries:
            rows.append(f"({qid}, {lut_sql(query_vector(vec))})")
    else:
        src, enc, cell, null_cell = ("enc", "rd" if residual else "xd",
                                     "cell, ", "CAST(NULL AS INT), ")
        join = "JOIN probes l ON c.cell = l.cell"
        cmat = centroid_array(coarse)
        rd = (f"list_transform(list_zip(xd, ({cmat})[cell + 1]), "
              "p -> p[1] - p[2]) AS rd" if residual else "xd")
        dc = _dists_sql(coarse, "xd", 1, len(coarse[0]))
        ctes += [f"cells AS (SELECT {id_col}, xd, {argmin(dc)} AS cell "
                 "FROM x)",
                 f"enc AS (SELECT {id_col}, cell, {rd} FROM cells)"]
        cm = np.asarray(coarse, dtype=np.float64)
        for qid, vec in queries:
            q = query_vector(vec)
            for c in probe_cells(q, coarse, n_probe):
                lut = lut_sql(q - cm[c] if residual else q)
                rows.append(f"({qid}, {int(c)}, {lut})")
    if not rows:
        # a bare "VALUES" is a parse error; express the (valid) empty
        # query set so the oracle still returns the empty answer
        rows = [f"(CAST(NULL AS BIGINT), {null_cell}"
                "[[CAST(NULL AS DOUBLE)]])"]
    codes = "[" + ", ".join(
        argmin(d) for d in _subspace_dists_sql(books, enc)) + "]"
    ctes += [f"codes AS (SELECT {id_col}, {cell}{codes} AS codes FROM {src})",
             f"probes(q_id, {cell}lut) AS (VALUES " + ", ".join(rows) + ")"]
    return (
        "WITH " + ", ".join(ctes) + ", "
        f"scored AS (SELECT l.q_id, c.{id_col} AS n_id, "
        + floor_round("list_sum(list_transform(list_zip(c.codes, l.lut), "
                      "p -> p[2][p[1] + 1]))", round_to)
        + f" AS adc_dist FROM codes c {join} WHERE c.{id_col} <> l.q_id), "
        "ranked AS (SELECT q_id, n_id, adc_dist, row_number() OVER "
        "(PARTITION BY q_id ORDER BY adc_dist, n_id) AS rank FROM scored) "
        f"SELECT q_id, n_id, adc_dist, rank FROM ranked WHERE rank <= {k}"
    )


def ivfpq_rerank_duckdb_sql(parquet_path: str,
                            query_pred: str = "vec_id < 20",
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            m: int = 16, k_cb: int = 16, iters: int = 3,
                            sample: int = 2048, n_cells: int = 16,
                            n_probe: int = 4, k: int = 5, rerank: int = 4,
                            round_to: int = 6,
                            residual: bool = False) -> str:
    """Oracle for :func:`ivfpq_rerank` — the stage-1 shortlist reuses
    :func:`ivfpq_topk_duckdb_sql` verbatim (widened to ``k·rerank``) as
    a nested CTE; stage 2 joins both sides back to the parquet for raw
    vectors and verifies the exact-L2 fold + deterministic re-ranking."""
    inner = ivfpq_topk_duckdb_sql(
        parquet_path, query_pred=query_pred, vec_col=vec_col,
        id_col=id_col, m=m, k_cb=k_cb, iters=iters, sample=sample,
        n_cells=n_cells, n_probe=n_probe, k=k * rerank,
        round_to=round_to, residual=residual)
    return (
        f"WITH shortlist AS ({inner}), "
        f"v AS ({_double_vectors_sql(vec_col, id_col)}), "
        "rescored AS (SELECT s.q_id, s.n_id, "
        + floor_round(sq_l2("qv.xd", "nv.xd"), round_to) + " AS exact_dist "
        "FROM shortlist s "
        f"JOIN v qv ON qv.{id_col} = s.q_id "
        f"JOIN v nv ON nv.{id_col} = s.n_id), "
        "reranked AS (SELECT q_id, n_id, exact_dist, row_number() OVER "
        "(PARTITION BY q_id ORDER BY exact_dist, n_id) AS rank "
        "FROM rescored) "
        f"SELECT q_id, n_id, exact_dist, rank FROM reranked "
        f"WHERE rank <= {k}"
    )
