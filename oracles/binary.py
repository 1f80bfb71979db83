"""Binary-code and hamming top-k oracles (``operators/binary.py``)."""

from flink_sql_security_spark.operators.binary import (
    WORD_BITS, check_rerank, shortlist_cutoff, words_per_code)

from oracles.common import dot, floor_round, unit_cte


def _word_expr(vec: str, j: int, d: int) -> str:
    """DuckDB twin of ``binary._word_expr``: bits [32j, 32j+32) of
    ``vec`` as a left-assoc BIGINT sum of disjoint powers of two."""
    terms = []
    for b in range(WORD_BITS):
        i = j * WORD_BITS + b
        if i >= d:
            break
        terms.append(f"CASE WHEN CAST({vec}[{i + 1}] AS DOUBLE) > 0.0 "
                     f"THEN CAST({1 << b} AS BIGINT) "
                     "ELSE CAST(0 AS BIGINT) END")
    return "(" + " + ".join(terms) + ")"


def _hamming_expr(a_words: list[str], b_words: list[str]) -> str:
    body = " + ".join(
        f"bit_count(xor({a}, {b}))" for a, b in zip(a_words, b_words))
    return f"CAST(({body}) AS INT)"


def _words(vec: str, d: int, prefix: str) -> str:
    """The packed-code projection list ``<word> AS <prefix><j>``."""
    return ", ".join(f"{_word_expr(vec, j, d)} AS {prefix}{j}"
                     for j in range(words_per_code(d)))


def _ranked_topk_sql(parts: list[str], table: str, vec_col: str,
                     id_col: str, k: int, rerank, round_to: int) -> str:
    """Rank the ``scan`` CTE of (q_id, n_id, hamming) and keep the top
    k; with ``rerank`` (an int multiplier or ``'auto'``, see
    :func:`shortlist_cutoff`) the shortlist is re-ranked by exact
    cosine, the twin of ``binary._exact_rerank``."""
    parts = parts + [
        "ranked AS (SELECT q_id, n_id, hamming, row_number() OVER "
        "(PARTITION BY q_id ORDER BY hamming, n_id) AS rank FROM scan)"]
    rerank = check_rerank(rerank)
    if rerank != "auto" and rerank <= 0:
        return (", ".join(parts) +
                f" SELECT q_id, n_id, hamming, rank FROM ranked "
                f"WHERE rank <= {k}")
    if rerank == "auto":
        short = ("short AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, "
                 "rank, count(*) OVER (PARTITION BY q_id) AS cand "
                 f"FROM ranked) WHERE rank <= {shortlist_cutoff(k, rerank)})")
    else:
        short = (f"short AS (SELECT q_id, n_id FROM ranked "
                 f"WHERE rank <= {shortlist_cutoff(k, rerank)})")
    parts += [
        unit_cte(table, id_col, vec_col, x="v"),
        short,
        "rescored AS (SELECT s.q_id, s.n_id, "
        + floor_round(dot("uq.unit", "un.unit"), round_to)
        + " AS cosine FROM short s "
        f"JOIN u un ON un.{id_col} = s.n_id "
        f"JOIN u uq ON uq.{id_col} = s.q_id)",
        "final AS (SELECT q_id, n_id, cosine, row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank "
        "FROM rescored)",
    ]
    return (", ".join(parts) +
            f" SELECT q_id, n_id, cosine, rank FROM final WHERE rank <= {k}")


def binary_codes_duckdb_sql(vec_col: str = "embedding",
                            id_col: str = "vec_id", d: int = 64,
                            prefix: str = "w",
                            table: str = "embeddings") -> str:
    """Oracle: identical packing with DuckDB list indexing."""
    return f"SELECT {id_col}, {_words(vec_col, d, prefix)} FROM {table}"


def hamming_topk_duckdb_sql(query_pred: str = "vec_id < 20",
                            vec_col: str = "embedding",
                            id_col: str = "vec_id", k: int = 5,
                            rerank: int | str = 0, round_to: int = 6,
                            d: int = 64,
                            table: str = "embeddings") -> str:
    """Pure-SQL oracle for ``hamming_topk`` — no driver-side artifacts.

    Same packing, same integer hamming, same tie rules; the rerank
    branch recomputes unit vectors and the sequential-fold dot with
    the ``list_sum(list_transform(list_zip(...)))`` shape whose
    engine equivalence the IVF oracle already pins.
    """
    W = words_per_code(d)
    ham = _hamming_expr([f"c.w{j}" for j in range(W)],
                        [f"q.w{j}" for j in range(W)])
    parts = [
        f"WITH c AS (SELECT {id_col}, {_words(vec_col, d, 'w')} "
        f"FROM {table})",
        f"q AS (SELECT * FROM c WHERE {query_pred})",
        f"scan AS (SELECT q.{id_col} AS q_id, c.{id_col} AS n_id, "
        f"{ham} AS hamming FROM c CROSS JOIN q "
        f"WHERE c.{id_col} <> q.{id_col})",
    ]
    return _ranked_topk_sql(parts, table, vec_col, id_col, k, rerank,
                            round_to)


def ivf_hamming_topk_duckdb_sql(parquet_path: str,
                                query_pred: str = "vec_id < 10",
                                vec_col: str = "embedding",
                                id_col: str = "vec_id", k: int = 5,
                                n_cells: int = 16, n_probe: int = 4,
                                rerank: int | str = 0, iters: int = 3,
                                sample: int = 2048, round_to: int = 6,
                                d: int = 64,
                                table: str = "embeddings") -> str:
    """Oracle: coarse centroids and probe sets re-derived from the
    parquet with the SAME numpy/python code (the IVF-PQ emitter
    pattern), cell assignment verified in SQL (first-min argmin over
    the identical sequential-fold L2), then the cell-keyed hamming
    scan and ranking — and the exact-cosine rerank when asked."""
    import duckdb
    import numpy as np

    from flink_sql_security_spark.operators.pq import (
        l2_kmeans_np, probe_cells)

    src = f"SELECT {id_col}, {vec_col} FROM read_parquet('{parquet_path}')"
    pdf = duckdb.sql(f"{src} ORDER BY {id_col}").df()
    qdf = duckdb.sql(f"{src} WHERE {query_pred} ORDER BY {id_col}").df()
    X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
    coarse = [[float(v) for v in c]
              for c in l2_kmeans_np(X[:sample], n_cells, iters)]
    probe_rows = ", ".join(
        f"({int(r[id_col])}, {int(c)})"
        for _, r in qdf.iterrows()
        for c in probe_cells(np.asarray(r[vec_col], dtype=np.float64),
                              coarse, n_probe))
    if not probe_rows:
        # a bare "VALUES" is a parse error; express the (valid) empty
        # probe set so the oracle can still return the empty answer
        probe_rows = "(CAST(NULL AS BIGINT), CAST(NULL AS INT))"

    W = words_per_code(d)
    # squared-L2 to each centroid, sequential fold (list_sum == the
    # JVM fold — the established equivalence)
    def l2(center):
        lits = ", ".join(repr(float(h)) for h in center)
        return (f"list_sum(list_transform(list_zip(xd, [{lits}]), "
                "x -> (x[1] - x[2]) * (x[1] - x[2])))")

    d_aliases = ", ".join(f"{l2(c)} AS d_{i}" for i, c in enumerate(coarse))
    argmin = "CASE "
    for i in range(len(coarse)):
        others = ", ".join(f"d_{j}" for j in range(len(coarse)) if j != i)
        argmin += f"WHEN d_{i} <= least({others}) THEN {i} "
    argmin += "END"
    ham = _hamming_expr([f"c.w{j}" for j in range(W)],
                        [f"p.qw{j}" for j in range(W)])
    parts = [
        f"WITH x AS (SELECT {id_col}, {vec_col}, "
        f"list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS xd "
        f"FROM {table})",
        f"dists AS (SELECT {id_col}, {vec_col}, {d_aliases} FROM x)",
        f"c AS (SELECT {id_col}, {argmin} AS cell, "
        f"{_words(vec_col, d, 'w')} FROM dists)",
        f"qw AS (SELECT {id_col} AS q_id, {_words(vec_col, d, 'qw')} "
        f"FROM {table} "
        f"WHERE {query_pred})",
        f"probes(q_id, cell) AS (VALUES {probe_rows})",
        "p AS (SELECT probes.q_id, probes.cell, qw.* EXCLUDE (q_id) "
        "FROM probes JOIN qw ON qw.q_id = probes.q_id)",
        f"scan AS (SELECT p.q_id, c.{id_col} AS n_id, {ham} AS hamming "
        f"FROM c JOIN p ON c.cell = p.cell WHERE c.{id_col} <> p.q_id)",
    ]
    return _ranked_topk_sql(parts, table, vec_col, id_col, k, rerank,
                            round_to)
