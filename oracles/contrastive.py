"""Contrastive-triplet oracle (``operators/contrastive.py``)."""





def _h_duck(expr: str) -> str:
    return (f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)")


def contrastive_triplets_duckdb_sql(pairs_sql: str, corpus_sql: str,
                                    n_neg: int = 2, buckets: int = 50,
                                    id_col: str = "doc_id",
                                    salt: str = "neg") -> str:
    """DuckDB oracle computing identical triplets. ``pairs_sql`` yields
    (id_a, id_b); ``corpus_sql`` yields ``id_col``."""
    hb = _h_duck(f"CAST({id_col} AS VARCHAR)")
    ht = _h_duck(
        f"concat(CAST(anchor AS VARCHAR), '|', CAST(neg_j AS VARCHAR), "
        f"'|{salt}')")
    hr = _h_duck(
        "concat(CAST(_cid AS VARCHAR), '|', CAST(anchor AS VARCHAR), "
        "'|', CAST(neg_j AS VARCHAR))")
    return (
        f"WITH pairs AS ({pairs_sql}), "
        f"corpus AS (SELECT {id_col} AS _cid, {hb} % {buckets} AS _cb "
        f"FROM ({corpus_sql}) c), "
        f"slots AS (SELECT id_a AS anchor, id_b AS positive, j.j AS neg_j "
        f"FROM pairs, UNNEST(range({n_neg})) AS j(j)), "
        f"targeted AS (SELECT anchor, positive, neg_j, {ht} % {buckets} "
        f"AS _tb FROM slots), "
        f"ranked AS (SELECT anchor, positive, neg_j, _cid, {hr} AS _rk "
        f"FROM targeted JOIN corpus ON _tb = _cb "
        f"WHERE _cid <> anchor AND _cid <> positive) "
        f"SELECT anchor, positive, neg_j, "
        f"min_by(_cid, _rk) AS negative "
        f"FROM ranked GROUP BY 1, 2, 3"
    )
