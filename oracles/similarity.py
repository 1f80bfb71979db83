"""Cosine-similarity oracles (``operators/similarity.py``)."""

from flink_sql_security_spark.operators.similarity import (
    exact_unit_matrix, hyperplane, ivf_centroids_np, matryoshka_shortlist_k)

from oracles.common import dot, floor_round, unit_cte


def ann_candidate_pairs_duckdb_sql(table: str = "embeddings",
                                   vec_col: str = "embedding",
                                   id_col: str = "vec_id", bits: int = 6,
                                   dim: int = 64, threshold: float = 0.4,
                                   tables: int = 4) -> str:
    """DuckDB SQL reproducing ``ann_candidate_pairs`` exactly.

    The hyperplanes are deterministic driver-side constants, so they embed
    as double literals (repr round-trips to the identical IEEE value).
    Sign tests run on DuckDB's sequential ``list_sum`` fold — which the
    Spark side matches exactly via its near-zero sequential recheck — so
    bucket ids, candidate pairs, and the unit-dot cosines all agree
    bit-for-bit.
    """
    def plane_dot(plane: list[float]) -> str:
        lits = ", ".join(repr(h) for h in plane)
        return (f"list_sum(list_transform(list_zip({vec_col}, [{lits}]), "
                "x -> CAST(x[1] AS DOUBLE) * x[2]))")

    bucket_exprs = []
    for t in range(tables):
        terms = " + ".join(
            f"(CASE WHEN {plane_dot(hyperplane(t, p, dim))} > 0 "
            f"THEN {2 ** p} ELSE 0 END)"
            for p in range(bits))
        bucket_exprs.append(f"({terms})")
    buckets_list = ", ".join(bucket_exprs)
    cos = floor_round(dot("ua.unit", "ub.unit"), 6)
    return (
        f"WITH bk AS (SELECT {id_col}, [{buckets_list}] AS bs FROM {table}), "
        f"banded AS (SELECT {id_col}, t.i AS tbl, bs[t.i + 1] AS bucket "
        f"FROM bk, UNNEST(range({tables})) AS t(i)), "
        f"cand AS (SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b "
        "FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        f"WHERE a.{id_col} < b.{id_col}), "
        + unit_cte(table, id_col, vec_col) + " "
        "SELECT id_a, id_b, " + cos + " AS cosine "
        f"FROM cand JOIN u ua ON ua.{id_col} = id_a "
        f"JOIN u ub ON ub.{id_col} = id_b "
        "WHERE " + cos + f" >= {threshold}"
    )


def ivf_topk_duckdb_sql(parquet_path: str, query_pred: str = "vec_id < 20",
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        k: int = 5, n_cells: int = 16, n_probe: int = 4,
                        iters: int = 5, sample: int = 4096,
                        round_to: int = 6) -> str:
    """DuckDB SQL reproducing ``ivf_topk`` exactly.

    Centroids and query probe sets are deterministic driver-side artifacts
    (k-means over the lowest-id sample, stable argsort of query-centroid
    scores) — the emitter re-derives them with the SAME numpy code from the
    parquet file and embeds them as literals; the SQL then verifies the
    distributed work: cell assignment (argmax over sequential-fold dots —
    matched by the Spark side's near-tie recheck), probed-cell scoring,
    and the deterministic top-k ranking.
    """
    import duckdb
    import numpy as np

    pdf = duckdb.sql(
        f"SELECT {id_col}, {vec_col} FROM read_parquet('{parquet_path}') "
        f"ORDER BY {id_col}").df()
    U = exact_unit_matrix(pdf[vec_col].tolist())
    C = ivf_centroids_np(U[:sample], n_cells, iters)
    qmask = duckdb.sql(
        f"SELECT {id_col} FROM read_parquet('{parquet_path}') "
        f"WHERE {query_pred} ORDER BY {id_col}").df()[id_col].to_numpy()
    id_order = pdf[id_col].to_numpy()
    qpos = np.searchsorted(id_order, qmask)
    Q = U[qpos]
    p = min(n_probe, len(C))
    q_cells = np.argsort(-np.einsum("ij,kj->ik", Q, C), kind="stable", axis=1)[:, :p]

    def center_dot(center) -> str:
        lits = ", ".join(repr(h) for h in center)
        return ("list_sum(list_transform(list_zip(unit, [" + lits + "]), "
                "x -> x[1] * x[2]))")

    d_aliases = ", ".join(
        f"{center_dot(C[c])} AS d_{c}" for c in range(len(C)))
    # first-max-wins argmax (np.argmax semantics): the first cell whose
    # score is >= every other cell's
    argmax = "CASE "
    for c in range(len(C)):
        others = ", ".join(f"d_{j}" for j in range(len(C)) if j != c)
        argmax += f"WHEN d_{c} >= greatest({others}) THEN {c} "
    argmax += "END"
    probe_rows = ", ".join(
        f"({int(q)}, {int(c)})"
        for qi, q in enumerate(qmask) for c in q_cells[qi])
    return (
        "WITH " + unit_cte(f"read_parquet('{parquet_path}')", id_col,
                           vec_col) + ", "
        f"dots AS (SELECT {id_col}, unit, {d_aliases} FROM u), "
        f"assign AS (SELECT {id_col}, unit, {argmax} AS cell FROM dots), "
        f"probes(q_id, cell) AS (VALUES {probe_rows}), "
        f"scored AS (SELECT p.q_id, a.{id_col} AS n_id, "
        + floor_round(dot("uq.unit", "a.unit"), round_to) + " AS cosine "
        "FROM probes p JOIN assign a ON a.cell = p.cell "
        "JOIN u uq ON uq.{id} = p.q_id "
        "WHERE a.{id} <> p.q_id)".format(id=id_col) + " , "
        "ranked AS (SELECT q_id, n_id, cosine, row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM scored) "
        f"SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {k}"
    )


def matryoshka_topk_duckdb_sql(table: str = "embeddings",
                               query_pred: str = "vec_id < 20", *,
                               prefix_dims: int,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id", k: int = 5,
                               shortlist: int | str = "auto",
                               round_to: int = 6) -> str:
    """DuckDB SQL twin of :func:`matryoshka_topk` (oracle): the same
    prefix-unit shortlist (floor-rounded sequential-fold cosine, id tie
    break) and full-unit rerank. ``shortlist='auto'`` emits the
    :func:`matryoshka_shortlist_k` sqrt rule as an in-query scalar
    subquery over the same table — ceil/sqrt are IEEE-identical to the
    Python fold, so both engines cut the identical shortlist."""
    if prefix_dims < 1:
        raise ValueError(f"prefix_dims must be >= 1: {prefix_dims}")
    if shortlist == "auto":
        cutoff = (f"greatest({8 * k}, CAST(ceil(5.0 * sqrt("
                  f"(SELECT count(*) FROM {table}))) AS BIGINT))")
    else:
        # validates the int range with the single shared rule
        cutoff = str(matryoshka_shortlist_k(k, shortlist, 0))

    def unit_cte(name: str, vec: str) -> str:
        return (
            f"{name} AS (SELECT {id_col}, list_transform(xd, "
            "x -> x / n) AS unit "
            f"FROM (SELECT {id_col}, "
            f"list_transform({vec}, x -> CAST(x AS DOUBLE)) AS xd, "
            f"sqrt(list_sum(list_transform({vec}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n "
            f"FROM {table}))")

    cos = floor_round(dot("{a}", "{b}"), round_to)
    return (
        "WITH "
        + unit_cte("pu", f"list_slice({vec_col}, 1, {prefix_dims})") + ", "
        + unit_cte("fu", vec_col) + ", "
        "pre AS (SELECT q.{i} AS q_id, n.{i} AS n_id, "
        .format(i=id_col)
        + cos.format(a="q.unit", b="n.unit") + " AS pcos "
        f"FROM pu q, pu n WHERE q.{id_col} IN "
        f"(SELECT {id_col} FROM {table} WHERE {query_pred}) "
        f"AND q.{id_col} <> n.{id_col}), "
        "short AS (SELECT q_id, n_id FROM ("
        "SELECT q_id, n_id, row_number() OVER ("
        "PARTITION BY q_id ORDER BY pcos DESC, n_id) AS prank FROM pre) "
        f"WHERE prank <= {cutoff}), "
        "rescored AS (SELECT s.q_id, s.n_id, "
        + cos.format(a="qu.unit", b="nu.unit") + " AS cosine "
        "FROM short s "
        f"JOIN fu qu ON qu.{id_col} = s.q_id "
        f"JOIN fu nu ON nu.{id_col} = s.n_id) "
        "SELECT q_id, n_id, cosine, rank FROM ("
        "SELECT q_id, n_id, cosine, row_number() OVER ("
        "PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank "
        f"FROM rescored) WHERE rank <= {k}"
    )
