"""Near-duplicate detection oracles (``operators/dedup.py``)."""

from flink_sql_security_spark.operators.dedup import (
    MERSENNE_31, SHINGLE_HASH_HEX, SIMHASH_HEX_CHARS, uhash_constants)

from oracles.common import floor_round


def _minhash_ctes(shingles_cte: str, num_hashes: int, bands: int,
                  id_col: str) -> str:
    """Shared CTE prefix (sh → sig → bnd → cand) for the MinHash oracles.

    ``shingles_cte`` must define a CTE named ``sh`` with (id, shingle).
    The 32-bit md5 prefix parses via DuckDB's ('0x'||hex)::BIGINT (Spark
    side uses conv(,16,10) — same uint32 value), then the same (a,b)
    literals; BIGINT arithmetic matches exactly.
    """
    x = (f"(CAST(concat('0x', substring(md5(shingle), 1, 8)) AS BIGINT)"
         f" % {MERSENNE_31})")
    mins = ", ".join(
        f"min(({a} * {x} + {b}) % {MERSENNE_31}) AS mh_{k}"
        for k, (a, b) in enumerate(uhash_constants(num_hashes)))
    rows_per_band = num_hashes // bands
    band_rows = " UNION ALL ".join(
        "SELECT {id}, {band} AS band, md5(concat_ws(':', {cols})) AS band_sig FROM sig"
        .format(
            id=id_col, band=band,
            cols=", ".join(
                f"CAST(mh_{band * rows_per_band + i} AS VARCHAR)"
                for i in range(rows_per_band)))
        for band in range(bands))
    return (
        f"{shingles_cte}, "
        f"sig AS (SELECT {id_col}, {mins} FROM sh GROUP BY {id_col}), "
        f"bnd AS ({band_rows}), "
        f"cand AS (SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b "
        f"FROM bnd a JOIN bnd b ON a.band = b.band AND a.band_sig = b.band_sig "
        f"WHERE a.{id_col} < b.{id_col})"
    )


def minhash_lsh_duckdb_sql(shingles_cte: str, num_hashes: int = 16,
                           bands: int = 4, id_col: str = "doc_id") -> str:
    """DuckDB SQL computing identical candidate pairs (oracle emitter)."""
    return ("WITH " + _minhash_ctes(shingles_cte, num_hashes, bands, id_col)
            + " SELECT id_a, id_b FROM cand")


def lsh_verified_jaccard_duckdb_sql(shingles_cte: str, num_hashes: int = 16,
                                    bands: int = 4, threshold: float = 0.2,
                                    id_col: str = "doc_id") -> str:
    """DuckDB oracle for ``lsh_verified_jaccard_pairs``: the same MinHash
    CTE chain, then exact Jaccard restricted to the candidate set."""
    return (
        "WITH " + _minhash_ctes(shingles_cte, num_hashes, bands, id_col) + ", "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(shingle), 1, "
        f"{SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter "
        "          FROM cand c JOIN hs a ON a.doc_id = c.id_a "
        "          JOIN hs b ON b.doc_id = c.id_b AND b.h = a.h "
        "          GROUP BY 1, 2) "
        "SELECT id_a, id_b, "
        + floor_round("n_inter / (sa.n_sh + sb.n_sh - n_inter)",
                       6) + " AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE "
        + floor_round("n_inter / (sa.n_sh + sb.n_sh - n_inter)",
                       6) + f" >= {threshold}"
    )


def incremental_dedup_duckdb_sql(split_id: int, table: str = "documents",
                                 text_col: str = "text",
                                 id_col: str = "doc_id", num_hashes: int = 16,
                                 bands: int = 4,
                                 threshold: float = 0.2) -> str:
    """DuckDB oracle for ``incremental_dedup`` where corpus = rows with
    ``id < split_id`` and the new batch = rows with ``id >= split_id``
    of the same table (how the driver query carves the fixture)."""
    shingles = (
        f"w AS (SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS ws FROM {table}), "
        f"sh AS (SELECT DISTINCT {id_col}, array_to_string(ws[i+1:i+3], ' ') AS shingle "
        f"       FROM w, UNNEST(range(greatest(len(ws)-2, 0))) AS t(i))"
    )
    ctes = _minhash_ctes(shingles, num_hashes, bands, id_col)
    # _minhash_ctes' cand is the symmetric self-join; restrict it to
    # (new ≥ split) × (old < split) pairs in either orientation
    return (
        "WITH " + ctes + ", "
        f"keys AS (SELECT {id_col}, md5(lower(regexp_replace(trim({text_col}), "
        f"'\\s+', ' ', 'g'))) AS k FROM {table}), "
        f"exact_ids AS (SELECT DISTINCT b.{id_col} FROM keys b "
        f" WHERE b.{id_col} >= {split_id} AND EXISTS "
        f" (SELECT 1 FROM keys c WHERE c.{id_col} < {split_id} AND c.k = b.k)), "
        f"across AS (SELECT greatest(id_a, id_b) AS id_new, "
        f"least(id_a, id_b) AS id_old FROM cand "
        f" WHERE greatest(id_a, id_b) >= {split_id} "
        f" AND least(id_a, id_b) < {split_id}), "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(shingle), 1, "
        f"{SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT a.id_new, a.id_old, count(*) AS n_inter "
        "          FROM across a JOIN hs x ON x.doc_id = a.id_new "
        "          JOIN hs y ON y.doc_id = a.id_old AND y.h = x.h "
        "          GROUP BY 1, 2), "
        "near_ids AS (SELECT DISTINCT id_new FROM inter "
        " JOIN sizes sn ON sn.doc_id = id_new JOIN sizes so ON so.doc_id = id_old "
        " WHERE "
        + floor_round("n_inter / (sn.n_sh + so.n_sh - n_inter)",
                       6) + f" >= {threshold}) "
        f"SELECT d.{id_col}, CASE "
        f"WHEN d.{id_col} IN (SELECT {id_col} FROM exact_ids) THEN 'exact_dup' "
        f"WHEN d.{id_col} IN (SELECT id_new FROM near_ids) THEN 'near_dup' "
        f"ELSE 'kept' END AS status "
        f"FROM {table} d WHERE d.{id_col} >= {split_id}"
    )


def simhash_duckdb_sql(table: str = "documents", text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    """DuckDB SQL computing the identical 48-bit SimHash (oracle emitter)."""
    bit_sums = [
        f"sum(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(4 * SIMHASH_HEX_CHARS)
    ]
    terms = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(4 * SIMHASH_HEX_CHARS)
    )
    return (
        f"WITH tok AS ("
        f" SELECT {id_col}, CAST(concat('0x', substring(md5(t.token), 1,"
        f" {SIMHASH_HEX_CHARS})) AS BIGINT) AS x"
        f" FROM {table}, UNNEST(string_split_regex(lower(trim({text_col})), '\\s+')) AS t(token)"
        f" WHERE t.token <> ''"
        f"), sums AS ("
        f" SELECT {id_col}, {', '.join(bit_sums)} FROM tok GROUP BY {id_col}"
        f") SELECT {id_col}, {terms} AS simhash FROM sums"
    )


def connected_components_duckdb_sql(pairs_sql: str) -> str:
    """DuckDB SQL for identical components via recursive transitive
    closure (oracle emitter). ``pairs_sql`` must yield (id_a, id_b).
    Closure size is Σ|component|² — fine for near-dup-sized clusters."""
    return (
        f"WITH RECURSIVE pairs AS ({pairs_sql}), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "          UNION SELECT id_b, id_a FROM pairs), "
        "reach(id, r) AS ("
        "  SELECT src, src FROM edges "
        "  UNION SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst"
        ") "
        "SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY id"
    )


def simhash_hamming_pairs_duckdb_sql(table: str = "documents",
                                     text_col: str = "text",
                                     id_col: str = "doc_id",
                                     max_hamming: int = 3) -> str:
    """DuckDB oracle: brute-force O(n²) self-join over the identical
    SimHash signatures (fine at test SFs; the Spark side is the banded
    scale path)."""
    sigs = simhash_duckdb_sql(table=table, text_col=text_col, id_col=id_col)
    return (
        f"WITH sigs AS ({sigs}) "
        f"SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, "
        f"CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        f"FROM sigs a JOIN sigs b ON a.{id_col} < b.{id_col} "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )


def decontaminate_duckdb_sql(bench_pred: str, table: str = "documents",
                             text_col: str = "text", id_col: str = "doc_id",
                             n: int = 4) -> str:
    """DuckDB oracle: benchmark = rows satisfying ``bench_pred``, training
    = the rest of the same table (how the driver query carves the fixture)."""
    return (
        f"WITH w AS (SELECT {id_col}, "
        f"string_split_regex(lower(trim({text_col})), '\\s+') AS ws FROM {table}), "
        f"sh AS (SELECT DISTINCT {id_col}, array_to_string(ws[i+1:i+{n}], ' ') AS shingle "
        f"       FROM w, UNNEST(range(greatest(len(ws)-{n - 1}, 0))) AS t(i)), "
        f"bench AS (SELECT DISTINCT shingle FROM sh WHERE {bench_pred}) "
        f"SELECT s.{id_col}, count(*) AS n_overlap FROM sh s "
        f"JOIN bench b ON s.shingle = b.shingle "
        f"WHERE NOT ({bench_pred.replace(id_col, 's.' + id_col)}) "
        f"GROUP BY s.{id_col}"
    )


def duplicate_span_stats_duckdb_sql(table: str = "documents",
                                    text_col: str = "text",
                                    id_col: str = "doc_id", n: int = 6,
                                    min_df: int = 2) -> str:
    """DuckDB oracle: identical md5-span hashing, df filter, and ratios."""
    return (
        f"WITH w AS (SELECT {id_col}, "
        f"string_split_regex(lower(trim({text_col})), '\\s+') AS ws FROM {table}), "
        f"sh AS (SELECT DISTINCT {id_col}, array_to_string(ws[i+1:i+{n}], ' ') AS shingle "
        f"       FROM w, UNNEST(range(greatest(len(ws)-{n - 1}, 0))) AS t(i)), "
        f"hs AS (SELECT DISTINCT {id_col}, CAST(concat('0x', "
        f"substring(md5(shingle), 1, {SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        f"sizes AS (SELECT {id_col}, count(*) AS n_spans FROM hs GROUP BY 1), "
        f"dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= {min_df}), "
        f"hit AS (SELECT {id_col}, count(*) AS dup FROM hs JOIN dup USING (h) "
        f"        GROUP BY 1) "
        f"SELECT s.{id_col}, n_spans, coalesce(dup, 0) AS n_dup_spans, "
        + floor_round("coalesce(dup, 0) / n_spans", 6)
        + " AS dup_fraction "
        f"FROM sizes s LEFT JOIN hit USING ({id_col})"
    )


def trim_duplicate_spans_duckdb_sql(table: str = "documents",
                                    text_col: str = "text",
                                    id_col: str = "doc_id", n: int = 6,
                                    min_df: int = 2) -> str:
    """DuckDB oracle: identical span hashing, coverage, reconstruction."""
    return (
        f"WITH w AS (SELECT {id_col}, "
        f"string_split_regex(lower(trim({text_col})), '\\s+') AS ws "
        f"FROM {table} WHERE len(string_split_regex(lower(trim({text_col})),"
        f" '\\s+')) >= 1), "
        f"pos AS (SELECT {id_col}, CAST(s.s AS INTEGER) AS s, "
        f"CAST(concat('0x', substring(md5(array_to_string("
        f"ws[s.s + 1:s.s + {n}], ' ')), 1, {SHINGLE_HASH_HEX})) AS BIGINT)"
        f" AS h FROM w, UNNEST(range(greatest(len(ws) - {n - 1}, 0))) AS"
        f" s(s)), "
        f"dup AS (SELECT h FROM (SELECT DISTINCT {id_col}, h FROM pos) "
        f"GROUP BY h HAVING count(*) >= {min_df}), "
        f"cov AS (SELECT {id_col}, list(DISTINCT s) AS starts FROM pos "
        f"JOIN dup USING (h) GROUP BY 1) "
        # kept tokens: positions not covered by any dup-span start
        # (nested lambda — DuckDB forbids subqueries inside lambdas)
        f"SELECT w.{id_col}, "
        # coalesce: DuckDB's array_to_string of an empty list is NULL,
        # Spark's concat_ws is ''
        f"coalesce(array_to_string(list_transform(list_filter("
        f"list_zip(ws, range(len(ws))), "
        f"x -> len(list_filter(coalesce(starts, []), "
        f"st -> x[2] >= st AND x[2] < st + {n})) = 0), "
        f"x -> x[1]), ' '), '') AS clean_text, "
        f"len(ws) AS n_tokens, "
        f"len(ws) - len(list_filter(list_zip(ws, range(len(ws))), "
        f"x -> len(list_filter(coalesce(starts, []), "
        f"st -> x[2] >= st AND x[2] < st + {n})) = 0)) AS n_removed "
        f"FROM w LEFT JOIN cov USING ({id_col})"
    )


def source_overlap_matrix_duckdb_sql(pairs_sql: str,
                                     docs_sql: str = "SELECT * FROM documents",
                                     key_col: str = "source",
                                     id_col: str = "doc_id") -> str:
    """DuckDB SQL computing the identical overlap cells (oracle)."""
    # native-round-ok: idempotent re-quantization of the already
    # floor_round-ed pair jaccard (see source_overlap_matrix)
    avg_j = floor_round(
        "CAST(sum(CAST(round(p.jaccard, 6) "  # native-round-ok
        "AS DECIMAL(18,6))) "
        "AS DOUBLE) / count(*)")
    return f"""
WITH pairs AS ({pairs_sql}),
keys AS (SELECT {id_col}, {key_col} FROM ({docs_sql}))
SELECT least(a.{key_col}, b.{key_col}) AS source_a,
       greatest(a.{key_col}, b.{key_col}) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {avg_j} AS avg_jaccard
FROM pairs p
JOIN keys a ON p.id_a = a.{id_col}
JOIN keys b ON p.id_b = b.{id_col}
GROUP BY 1, 2
"""


def keep_best_duckdb_sql(pairs_sql: str, score_sql: str,
                         docs_table: str = "documents",
                         id_col: str = "doc_id",
                         round_to: int = 6) -> str:
    """Oracle for :func:`keep_best_per_component` — components via the
    recursive-closure oracle, identical score expression, identical
    rank/tie order."""
    comp = connected_components_duckdb_sql(pairs_sql)
    return (
        f"WITH comp AS ({comp}), "
        f"scored AS (SELECT {id_col} AS _kid, {score_sql} AS _score "
        f"FROM {docs_table}), "
        "j AS (SELECT c.component_id, c.doc_id, s._score "
        "FROM comp c JOIN scored s ON c.doc_id = s._kid), "
        "r AS (SELECT component_id, doc_id, _score, "
        "row_number() OVER (PARTITION BY component_id "
        "ORDER BY _score DESC, doc_id) AS _rn, "
        "count(*) OVER (PARTITION BY component_id) AS n_members FROM j) "
        "SELECT component_id, doc_id AS keep_id, "
        + floor_round("_score", round_to)
        + " AS quality, n_members "
        "FROM r WHERE _rn = 1"
    )


def containment_pairs_duckdb_sql(shingles_cte: str, n: int = 3,
                                 threshold: float = 0.5,
                                 id_col: str = "doc_id") -> str:
    """DuckDB SQL twin of :func:`containment_pairs` (oracle): identical
    hashed-set intersection counts and per-direction floor-rounded
    divides."""
    c_ab = floor_round("n_inter / CAST(sa.n_sh AS DOUBLE)", 6)
    c_ba = floor_round("n_inter / CAST(sb.n_sh AS DOUBLE)", 6)
    return (
        "WITH " + shingles_cte + ", "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', "
        f"substring(md5(shingle), 1, {SHINGLE_HASH_HEX})) AS BIGINT) AS h "
        "FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "count(*) AS n_inter FROM hs a JOIN hs b ON a.h = b.h "
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2), "
        "both_dirs AS ("
        f"SELECT id_a AS id_sub, id_b AS id_super, {c_ab} AS containment "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b "
        "UNION ALL "
        f"SELECT id_b AS id_sub, id_a AS id_super, {c_ba} AS containment "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b) "
        f"SELECT id_sub, id_super, containment FROM both_dirs "
        f"WHERE containment >= {threshold}"
    )
