"""Retrieval oracles (``operators/retrieval.py``): BM25, RRF and MMR."""

from flink_sql_security_spark.operators.retrieval import (
    WS, check_rrf_names, check_rrf_weights, term_col)

from oracles.common import dot, floor_round, unit_cte


def bm25_topk_sql(terms, k: int = 20, *, table: str = "documents",
                  text_col: str = "text", id_col: str = "doc_id",
                  k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB SQL computing the identical BM25 top-k (strict oracle).

    Fractional literals are CAST AS DOUBLE (DuckDB parses bare decimals
    as DECIMAL); stats come from exact integer aggregates with the same
    single IEEE division as the Spark driver side.
    """
    terms = list(terms)
    term_list = ", ".join(f"'{t}'" for t in terms)

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    s_cols = ", ".join(
        f"max(CASE WHEN token = '{t}' THEN s END) AS {term_col(t)}"
        for t in terms)
    total = f"coalesce({term_col(terms[0])}, {d(0.0)})"
    for t in terms[1:]:
        total = f"{total} + coalesce({term_col(t)}, {d(0.0)})"
    out_cols = ", ".join(term_col(t) for t in terms)

    return (
        f"WITH dls AS (SELECT {id_col}, len(list_filter("
        f"string_split_regex(lower(trim({text_col})), '{WS}'), "
        f"t -> t <> '')) AS dl, {text_col} FROM {table}), "
        f"stats AS (SELECT count(*) AS n_docs, "
        f"CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl "
        f"FROM dls), "
        f"toks AS (SELECT {id_col}, dl, t.token FROM dls, "
        f"UNNEST(string_split_regex(lower(trim({text_col})), '{WS}')) "
        f"AS t(token) WHERE t.token IN ({term_list})), "
        f"tf AS (SELECT {id_col}, dl, token, count(*) AS tf FROM toks "
        f"GROUP BY {id_col}, dl, token), "
        f"dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token), "
        f"scored AS (SELECT tf.{id_col}, tf.dl, tf.token, "
        + floor_round(
            f"ln(((n_docs - df) + {d(0.5)}) / (df + {d(0.5)}) + {d(1.0)}) "
            f"* ((tf * {d(k1 + 1.0)}) / (tf + ({d(k1)} * ({d(1.0 - b)} "
            f"+ ({d(b)} * (dl / avgdl))))))", 6) + " AS s "
        f"FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN stats), "
        f"per_doc AS (SELECT {id_col}, dl, {s_cols} FROM scored "
        f"GROUP BY {id_col}, dl), "
        f"totaled AS (SELECT {id_col}, dl, {out_cols}, "
        + floor_round(total, 6) + " AS score FROM per_doc), "
        f"ranked AS (SELECT *, row_number() OVER "
        f"(ORDER BY score DESC, {id_col}) AS rank FROM totaled) "
        f"SELECT * FROM ranked WHERE rank <= {k}"
    )


def mmr_rerank_duckdb_sql(query_pred: str = "vec_id < 10",
                          vec_col: str = "embedding",
                          id_col: str = "vec_id", k: int = 5,
                          shortlist: int = 20, lam: float = 0.7,
                          round_to: int = 6,
                          table: str = "embeddings") -> str:
    """Pure-SQL oracle for ``mmr_rerank``: the k greedy stages unroll
    as CTEs (sel1..selk), each re-deriving the candidate scores from
    the shortlist and the max-sim-to-selected aggregate."""
    om = 1.0 - lam
    L, OM = repr(float(lam)), repr(float(om))
    cos = floor_round(dot("{a}", "{b}"), round_to)
    parts = [
        "WITH " + unit_cte(table, id_col, vec_col),
        f"scored AS (SELECT q.{id_col} AS q_id, c.{id_col} AS n_id, "
        + cos.format(a="q.unit", b="c.unit") + " AS rel "
        f"FROM u q, u c WHERE q.{id_col} IN "
        f"(SELECT {id_col} FROM {table} WHERE {query_pred}) "
        f"AND c.{id_col} <> q.{id_col})",
        "short AS (SELECT q_id, n_id, rel FROM (SELECT q_id, n_id, rel, "
        "row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) "
        f"AS rk FROM scored) WHERE rk <= {shortlist})",
        "sims AS (SELECT a.q_id, a.n_id AS i, b.n_id AS s, "
        + cos.format(a="ua.unit", b="ub.unit") + " AS sim "
        "FROM short a JOIN short b ON a.q_id = b.q_id "
        f"JOIN u ua ON ua.{id_col} = a.n_id "
        f"JOIN u ub ON ub.{id_col} = b.n_id)",
        f"sel1 AS (SELECT q_id, n_id, {L} * rel AS score, 1 AS sel_pos "
        "FROM (SELECT q_id, n_id, rel, row_number() OVER (PARTITION BY "
        "q_id ORDER BY rel DESC, n_id) AS rk FROM short) WHERE rk = 1)",
    ]
    for t in range(2, k + 1):
        selu = " UNION ALL ".join(
            f"SELECT q_id, n_id FROM sel{i}" for i in range(1, t))
        parts.append(f"selu{t} AS ({selu})")
        parts.append(
            f"ms{t} AS (SELECT si.q_id, si.i AS n_id, max(si.sim) AS "
            f"maxsim FROM sims si JOIN selu{t} se ON si.q_id = se.q_id "
            "AND si.s = se.n_id GROUP BY si.q_id, si.i)")
        parts.append(
            f"cand{t} AS (SELECT s.q_id, s.n_id, "
            f"({L} * s.rel) - ({OM} * m.maxsim) AS score "
            f"FROM short s JOIN ms{t} m ON m.q_id = s.q_id AND "
            f"m.n_id = s.n_id LEFT JOIN selu{t} se ON se.q_id = s.q_id "
            "AND se.n_id = s.n_id WHERE se.n_id IS NULL)")
        parts.append(
            f"sel{t} AS (SELECT q_id, n_id, score, {t} AS sel_pos FROM "
            "(SELECT q_id, n_id, score, row_number() OVER (PARTITION BY "
            f"q_id ORDER BY score DESC, n_id) AS rk FROM cand{t}) "
            "WHERE rk = 1)")
    final = " UNION ALL ".join(
        f"SELECT q_id, n_id, score, sel_pos FROM sel{i}"
        for i in range(1, k + 1))
    return (", ".join(parts) +
            f" SELECT q_id, n_id, score AS mmr_score, "
            f"sel_pos FROM ({final})")


def rrf_fuse_sql(ranked_sqls, *, id_col: str = "doc_id",
                 rank_col: str = "rank", k0: int = 60, k: int = 20,
                 round_to: int = 6,
                 group_col: str | None = None,
                 weights: list[float] | None = None) -> str:
    """DuckDB SQL computing the identical fusion (strict oracle).

    ``ranked_sqls`` is an ordered list of ``(name, sql)`` pairs; each
    ``sql`` is a complete SELECT (its own WITH allowed — it embeds as
    a derived table) producing ``id_col`` + ``rank_col`` (+
    ``group_col`` if set). Arithmetic mirrors :func:`rrf_fuse`
    verbatim: integer-exact ``1/(k0 + rank)`` divides, left-associated
    sum in list order, floor rule once on the final score.
    """
    names = [n for n, _ in ranked_sqls]
    check_rrf_names(names)
    if k0 < 1:
        raise ValueError(f"rrf_fuse k0 must be >= 1: {k0}")
    ws = check_rrf_weights(weights, names)
    keys = ([group_col] if group_col else []) + [id_col]
    key_list = ", ".join(keys)

    parts = [
        f"l_{n} AS (SELECT {key_list}, CAST({rank_col} AS BIGINT) AS r, "
        f"'{n}' AS src FROM ({sql}) t_{n})"
        for n, sql in ranked_sqls]
    union = " UNION ALL ".join(f"SELECT * FROM l_{n}" for n in names)
    r_cols = ", ".join(
        f"max(CASE WHEN src = '{n}' THEN r END) AS r_{n}" for n in names)
    parts.append(f"tagged AS ({union})")
    parts.append(f"per AS (SELECT {key_list}, {r_cols} FROM tagged "
                 f"GROUP BY {key_list})")

    def contrib(n: str, w: float) -> str:
        return (f"CASE WHEN r_{n} IS NOT NULL THEN "
                f"CAST({w!r} AS DOUBLE) * (CAST(1.0 AS DOUBLE) "
                f"/ ({k0} + r_{n})) "
                f"ELSE CAST(0.0 AS DOUBLE) END")

    total = contrib(names[0], ws[0])
    for n, w in zip(names[1:], ws[1:]):
        total = f"({total} + {contrib(n, w)})"
    out_r = ", ".join(f"r_{n}" for n in names)
    part = f"PARTITION BY {group_col} " if group_col else ""
    parts.append(
        f"scored AS (SELECT {key_list}, {out_r}, "
        + floor_round(total, round_to) + " AS rrf_score "
        "FROM per)")
    parts.append(
        f"ranked_out AS (SELECT *, row_number() OVER ({part}"
        f"ORDER BY rrf_score DESC, {id_col}) AS rank FROM scored)")
    return ("WITH " + ", ".join(parts) +
            f" SELECT {key_list}, {out_r}, rrf_score, rank "
            f"FROM ranked_out WHERE rank <= {k}")
