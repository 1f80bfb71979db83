"""Corpus-cleaning and chunking oracles (``operators/corpus.py``)."""

from flink_sql_security_spark.operators.dedup import SHINGLE_HASH_HEX

from oracles import text as T
from oracles.common import floor_round


def clean_corpus_duckdb_sql(table: str = "documents",
                            text_col: str = "text",
                            id_col: str = "doc_id", lang: str = "en",
                            min_quality: float = 0.3,
                            jaccard_threshold: float = 0.5) -> str:
    """DuckDB SQL computing the identical cleaned corpus (oracle emitter)."""
    c = text_col
    gated = (
        f"gated AS (SELECT {id_col}, {c}, {T.lang_id_sql(c)} AS lang_pred, "
        f"{T.quality_score_sql(c)} AS quality FROM {table} "
        f"WHERE {T.lang_id_sql(c)} = '{lang}' "
        f"AND {T.quality_score_sql(c)} >= {min_quality})"
    )
    # exact dedup: keep min(id) per normalized-text hash
    exact = (
        f"keep AS (SELECT min({id_col}) AS {id_col} FROM gated GROUP BY "
        f"md5(lower(regexp_replace(trim({c}), '\\s+', ' ', 'g')))), "
        f"ded AS (SELECT g.* FROM gated g JOIN keep USING ({id_col}))"
    )
    shingles = (
        f"w AS (SELECT {id_col}, string_split_regex(lower(trim({c})), '\\s+') AS ws FROM ded), "
        f"sh AS (SELECT DISTINCT {id_col}, array_to_string(ws[i+1:i+3], ' ') AS shingle "
        f"       FROM w, UNNEST(range(greatest(len(ws)-2, 0))) AS t(i)), "
        f"hs AS (SELECT DISTINCT {id_col}, CAST(concat('0x', substring(md5(shingle), 1, "
        f"{SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        f"sizes AS (SELECT {id_col}, count(*) AS n_sh FROM hs GROUP BY {id_col}), "
        f"inter AS (SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, count(*) AS n_inter "
        f"          FROM hs a JOIN hs b ON a.h = b.h WHERE a.{id_col} < b.{id_col} "
        f"          GROUP BY 1, 2), "
        f"drop_ids AS (SELECT DISTINCT id_b AS {id_col} FROM inter "
        f"  JOIN sizes sa ON sa.{id_col} = inter.id_a "
        f"  JOIN sizes sb ON sb.{id_col} = inter.id_b "
        "  WHERE "
        + floor_round("n_inter / (sa.n_sh + sb.n_sh - n_inter)",
                       6)
        + f" >= {jaccard_threshold})"
    )
    return (
        f"WITH {gated}, {exact}, {shingles} "
        f"SELECT d.{id_col}, d.lang_pred, d.quality, "
        f"{T.word_count_sql('d.' + c)} AS n_words, "
        f"{T.bpe_token_count_sql('d.' + c)} AS n_bpe "
        f"FROM ded d WHERE NOT EXISTS "
        f"(SELECT 1 FROM drop_ids x WHERE x.{id_col} = d.{id_col})"
    )


def chunk_tokens_duckdb_sql(size: int = 128, stride: int = 96,
                            table: str = "documents",
                            text_col: str = "text",
                            id_col: str = "doc_id") -> str:
    """DuckDB oracle: identical tokenization, offsets, and slices."""
    return (
        f"WITH tk AS (SELECT {id_col}, "
        f"string_split_regex(trim({text_col}), '\\s+') AS t "
        f"FROM {table} WHERE trim({text_col}) <> ''), "
        f"ch AS (SELECT {id_col}, CAST(s.s / {stride} AS INTEGER) AS chunk_i, "
        f"array_to_string(t[s.s + 1:s.s + {size}], ' ') AS chunk_text "
        f"FROM tk, UNNEST(range(0, len(t), {stride})) AS s(s)) "
        f"SELECT {id_col}, chunk_i, "
        f"len(string_split_regex(chunk_text, '\\s+')) AS n_tokens, "
        f"chunk_text FROM ch"
    )


def fim_transform_duckdb_sql(table: str = "documents", rate: float = 0.5,
                             text_col: str = "text", id_col: str = "doc_id",
                             pre_tok: str = "<PRE>", suf_tok: str = "<SUF>",
                             mid_tok: str = "<MID>",
                             salt: str = "fim") -> str:
    """DuckDB SQL computing the identical FIM rows (oracle emitter)."""
    # native-round-ok: driver-side Python, same literal in
    # both engines' plans
    gate = int(round(rate * 10_000))  # native-round-ok

    def h(tag: str) -> str:
        return (f"CAST(concat('0x', substring(md5(concat(CAST({id_col} AS "
                f"VARCHAR), ':{salt}-{tag}')), 1, 8)) AS BIGINT)")

    fim = (f"concat('{pre_tok} ', array_to_string(_tk[1:_p1], ' '), "
           f"' {suf_tok} ', array_to_string(_tk[_p2+1:_n], ' '), "
           f"' {mid_tok} ', array_to_string(_tk[_p1+1:_p2], ' '))")
    txt = f"trim(coalesce({text_col}, ''))"
    return f"""
WITH t AS (SELECT {id_col}, {text_col} AS _orig, {txt} AS _txt,
                  string_split_regex({txt}, '\\s+') AS _tk,
                  ({h('gate')} % 10000 < {gate}) AS _gate
           FROM {table}),
n AS (SELECT *, CASE WHEN _txt = '' THEN 0 ELSE len(_tk) END AS _n,
             (_gate AND CASE WHEN _txt = '' THEN 0 ELSE len(_tk) END > 0)
             AS fim_applied FROM t),
p AS (SELECT *, {h('p1')} % (_n + 1) AS _p1 FROM n),
q AS (SELECT *, _p1 + {h('p2')} % (_n - _p1 + 1) AS _p2 FROM p)
SELECT {id_col}, fim_applied,
       CAST(CASE WHEN fim_applied THEN _p1 ELSE 0 END AS BIGINT) AS n_prefix,
       CAST(CASE WHEN fim_applied THEN _p2 - _p1 ELSE _n END AS BIGINT) AS n_middle,
       CAST(CASE WHEN fim_applied THEN _n - _p2 ELSE 0 END AS BIGINT) AS n_suffix,
       CASE WHEN fim_applied THEN {fim} ELSE _orig END AS fim_text
FROM q
"""


def chunk_sentences_duckdb_sql(budget: int = 128,
                               table: str = "documents",
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               delim: str = ". ") -> str:
    """DuckDB oracle: identical literal split, trimmed counts, prefix
    totals, DIV assignment, dense renumbering, and ORDER BY pos
    re-concatenation."""
    if budget < 1:
        raise ValueError(f"chunk_sentences budget must be >= 1: {budget}")
    if not delim:
        raise ValueError("chunk_sentences delim must be non-empty")
    dlit = delim.replace("'", "''")
    return (
        f"WITH sp AS (SELECT {id_col}, "
        f"string_split(trim({text_col}), '{dlit}') AS s_arr "
        f"FROM {table} WHERE trim({text_col}) <> ''), "
        f"sent AS (SELECT {id_col}, CAST(i.i AS INTEGER) AS pos, "
        f"s_arr[i.i + 1] AS sentence, "
        f"CASE WHEN trim(s_arr[i.i + 1]) = '' THEN 0 ELSE "
        f"len(string_split_regex(trim(s_arr[i.i + 1]), '\\s+')) END AS t "
        f"FROM sp, UNNEST(range(0, len(s_arr))) AS i(i)), "
        f"assigned AS (SELECT {id_col}, pos, sentence, t, "
        f"coalesce(sum(t) OVER (PARTITION BY {id_col} ORDER BY pos "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum "
        f"FROM sent), "
        f"per_chunk AS (SELECT {id_col}, "
        f"CAST(floor(CAST(cum AS DOUBLE) / {budget}) AS INTEGER) "
        f"AS raw_chunk, "
        f"CAST(count(*) AS BIGINT) AS n_sentences, "
        f"CAST(sum(t) AS BIGINT) AS n_tokens, "
        f"string_agg(sentence, '{dlit}' ORDER BY pos) AS chunk_text "
        f"FROM assigned GROUP BY {id_col}, "
        f"CAST(floor(CAST(cum AS DOUBLE) / {budget}) AS INTEGER)) "
        f"SELECT {id_col}, CAST(dense_rank() OVER "
        f"(PARTITION BY {id_col} ORDER BY raw_chunk) - 1 AS INTEGER) "
        f"AS chunk_id, n_sentences, n_tokens, chunk_text "
        f"FROM per_chunk"
    )


def chunk_content_defined_duckdb_sql(w: int = 3, mask_bits: int = 4,
                                     table: str = "documents",
                                     text_col: str = "text",
                                     id_col: str = "doc_id") -> str:
    """DuckDB oracle: identical tokenization, w-gram md5 boundaries,
    prefix counts, and ORDER BY pos re-concatenation."""
    if w < 1:
        raise ValueError(f"chunk_content_defined w must be >= 1: {w}")
    if not 1 <= mask_bits <= 20:
        raise ValueError(
            f"chunk_content_defined mask_bits must be in [1, 20]: "
            f"{mask_bits}")
    m = 1 << mask_bits
    # same clamp as the Spark side: the hash may be evaluated at early
    # positions even though the boundary guard discards it
    gram = f"array_to_string(t[greatest(i.i - {w - 2}, 1):i.i + 1], ' ')"
    h = (f"CAST(concat('0x', substring(md5({gram}), 1, 15)) AS BIGINT)")
    return (
        f"WITH sp AS (SELECT {id_col}, "
        f"string_split_regex(trim({text_col}), '\\s+') AS t "
        f"FROM {table} WHERE trim({text_col}) <> ''), "
        f"sent AS (SELECT {id_col}, CAST(i.i AS INTEGER) AS pos, "
        f"t[i.i + 1] AS tok, "
        f"CASE WHEN i.i >= {w - 1} AND {h} % {m} = 0 THEN 1 ELSE 0 END "
        f"AS b FROM sp, UNNEST(range(0, len(t))) AS i(i)), "
        f"assigned AS (SELECT {id_col}, pos, tok, "
        f"CAST(coalesce(sum(b) OVER (PARTITION BY {id_col} "
        f"ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND "
        f"1 PRECEDING), 0) AS INTEGER) AS chunk_id FROM sent) "
        f"SELECT {id_col}, chunk_id, "
        f"CAST(count(*) AS BIGINT) AS n_tokens, "
        f"string_agg(tok, ' ' ORDER BY pos) AS chunk_text "
        f"FROM assigned GROUP BY {id_col}, chunk_id"
    )


def dedup_lines_duckdb_sql(table: str = "documents",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           normalize: bool = True) -> str:
    """DuckDB SQL twin of :func:`dedup_lines` (oracle): identical
    explode / first-occurrence window / position-ordered re-join.
    (DuckDB has no WITH ORDINALITY; parallel unnests of the list and
    generate_series zip positionally — verified behavior.)"""
    # one definition: the fingerprint normalization (functions/text.py)
    key = T.fingerprint_sql("_line") if normalize else "_line"
    return f"""
WITH exploded AS (
  SELECT {id_col},
         unnest(generate_series(1, len(_l))) - 1 AS _pos,
         unnest(_l) AS _line
  FROM (SELECT {id_col}, string_split({text_col}, chr(10)) AS _l
        FROM {table} WHERE {text_col} IS NOT NULL)
), ranked AS (
  SELECT {id_col}, _pos, _line,
         row_number() OVER (PARTITION BY {id_col}, {key}
                            ORDER BY _pos) AS _rn
  FROM exploded
)
SELECT {id_col},
       string_agg(_line, chr(10) ORDER BY _pos) AS {text_col}
FROM ranked WHERE _rn = 1 GROUP BY {id_col}
"""
