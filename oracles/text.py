"""DuckDB twins of the text functions (``functions/text.py``)."""

from flink_sql_security_spark.functions.text import (
    BPE_TOKEN_PATTERN, BULLET_RE, C4_LINE_KEEP_RE, C4_MIN_LINES,
    C4_MIN_LINE_WORDS, ELLIPSIS_LINE_RE, ELLIPSIS_RE, GOPHER_STOPS,
    LANG_MARKERS, PII_PATTERNS, WS)

from oracles.common import floor_round


def word_count_sql(c: str) -> str:
    return f"len(string_split_regex(lower(trim({c})), '{WS}'))"


def bpe_token_count_sql(c: str) -> str:
    return f"len(regexp_extract_all({c}, '{BPE_TOKEN_PATTERN}'))"


def quality_features_sql(c: str) -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    n_words = word_count_sql(c)
    return {
        "n_chars": f"length({c})",
        "n_words": n_words,
        "mean_word_len": floor_round(
            f"length(regexp_replace(lower(trim({c})), '{WS}', '', 'g'))"
            f" / greatest({n_words}, 1)"),
        "digit_ratio": floor_round(
            f"(length({c}) - length(regexp_replace({c}, '[0-9]', '', 'g')))"
            f" / greatest(length({c}), 1)"),
        "punct_ratio": floor_round(
            f"(length({c}) - length(regexp_replace({c}, '[^\\w\\s]', '', 'g')))"
            f" / greatest(length({c}), 1)"),
        "stopword_ratio": floor_round(
            f"len(list_filter(string_split_regex(lower(trim({c})), '{WS}'),"
            f" w -> w IN ({stop_list}))) / greatest({n_words}, 1)"),
    }


def quality_score_sql(c: str) -> str:
    f = quality_features_sql(c)
    return floor_round(
        "0.4 * least(" + f["stopword_ratio"] + " * 4, 1.0)"
        " + 0.3 * least(" + f["mean_word_len"] + " / 8, 1.0)"
        " + 0.3 * (1 - least((" + f["digit_ratio"] + " + "
        + f["punct_ratio"] + ") * 2, 1.0))")


def gopher_flags_sql(c: str) -> dict[str, str]:
    """DuckDB twins of :func:`gopher_flags` (oracle emitters)."""
    ws = f"string_split_regex(lower(trim({c})), '{WS}')"
    ls = f"string_split({c}, chr(10))"
    n_words = f"len({ws})"
    n_lines = f"len({ls})"
    symbols = (f"(length({c}) - length(replace({c}, '#', ''))"
               f" + len(regexp_extract_all({c}, '{ELLIPSIS_RE}')))")
    stop_sum = " + ".join(
        f"(CASE WHEN list_contains({ws}, '{s}') THEN 1 ELSE 0 END)"
        for s in GOPHER_STOPS)
    m = {
        "n_words": n_words,
        "mean_word_len": floor_round(
            f"length(regexp_replace(lower(trim({c})), '{WS}', '', 'g'))"
            f" / greatest({n_words}, 1)"),
        "symbol_word_ratio": floor_round(
            f"{symbols} / greatest({n_words}, 1)"),
        "bullet_line_frac": floor_round(
            f"len(list_filter({ls}, l -> regexp_matches(l, "
            f"'{BULLET_RE}'))) / greatest({n_lines}, 1)"),
        "ellipsis_line_frac": floor_round(
            f"len(list_filter({ls}, l -> regexp_matches(l, "
            f"'{ELLIPSIS_LINE_RE}'))) / greatest({n_lines}, 1)"),
        "alpha_word_frac": floor_round(
            f"len(list_filter({ws}, w -> regexp_matches(w, '[a-z]')))"
            f" / greatest({n_words}, 1)"),
        "stop_hits": (f"CASE WHEN {c} IS NULL THEN NULL "
                      f"ELSE ({stop_sum}) END"),
    }
    rules = [
        f"{m['n_words']} >= 50 AND {m['n_words']} <= 100000",
        f"{m['mean_word_len']} >= 3.0 AND {m['mean_word_len']} <= 10.0",
        f"{m['symbol_word_ratio']} <= 0.1",
        f"{m['bullet_line_frac']} <= 0.9",
        f"{m['ellipsis_line_frac']} <= 0.3",
        f"{m['alpha_word_frac']} >= 0.8",
        f"({m['stop_hits']}) >= 2",
    ]
    m["rules_passed"] = " + ".join(
        f"(CASE WHEN {r} THEN 1 ELSE 0 END)" for r in rules)
    m["keep"] = ("coalesce(" + " AND ".join(f"({r})" for r in rules)
                 + ", false)")
    return m


def gopher_select_sql(table: str = "documents", text_col: str = "text",
                      id_col: str = "doc_id") -> str:
    """DuckDB SQL twin of :func:`gopher_select` (oracle)."""
    flags = gopher_flags_sql(text_col)
    cols = ", ".join(f"{v} AS {k}" for k, v in flags.items())
    return f"SELECT {id_col}, {cols} FROM {table}"


def _c4_kept_lines_sql(c: str) -> str:
    return (
        f"list_filter(string_split({c}, chr(10)), l -> "
        f"regexp_matches(l, '{C4_LINE_KEEP_RE}') "
        f"AND len(string_split_regex(lower(trim(l)), '{WS}')) "
        f">= {C4_MIN_LINE_WORDS} "
        f"AND NOT contains(lower(l), 'javascript'))")


def c4_clean_sql(c: str) -> dict[str, str]:
    """DuckDB twins of :func:`c4_clean` (oracle emitters)."""
    kept = _c4_kept_lines_sql(c)
    page = (f"(coalesce(len({kept}) >= {C4_MIN_LINES}, false) "
            f"AND NOT coalesce(contains(lower({c}), 'lorem ipsum'), true) "
            f"AND NOT coalesce(contains({c}, '{{'), true))")
    return {
        "clean_text": (f"CASE WHEN {page} "
                       f"THEN array_to_string({kept}, chr(10)) END"),
        "n_lines_kept": (f"CASE WHEN {c} IS NULL THEN NULL "
                         f"ELSE len({kept}) END"),
        "keep": page,
    }


def c4_select_sql(table: str = "documents", text_col: str = "text",
                  id_col: str = "doc_id") -> str:
    """DuckDB SQL twin of :func:`c4_select` (oracle)."""
    m = c4_clean_sql(text_col)
    cols = ", ".join(f"{v} AS {k}" for k, v in m.items())
    return f"SELECT {id_col}, {cols} FROM {table}"


def lang_id_sql(c: str) -> str:
    parts = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in markers)
        ws = f"string_split_regex(lower(trim({c})), '{WS}')"
        parts.append(
            (lang,
             floor_round(
                 f"len(list_filter({ws}, w -> w IN ({lst})))"
                 f" / greatest(len({ws}), 1)"))
        )
    best = "greatest(" + ", ".join(s for _, s in parts) + ")"
    expr = "'und'"
    for lang, s in sorted(parts, key=lambda x: x[0], reverse=True):
        expr = f"CASE WHEN {s} = {best} THEN '{lang}' ELSE {expr} END"
    return f"CASE WHEN {best} > 0 THEN {expr} ELSE 'und' END"


def fingerprint_sql(c: str) -> str:
    return f"md5(lower(regexp_replace(trim({c}), '{WS}', ' ', 'g')))"


def redact_pii_sql(c: str) -> str:
    """DuckDB emitter producing identical redaction (oracle)."""
    out = c
    for pat, tag in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


def top_tokens_sql(table: str = "documents", text_col: str = "text",
                   k: int = 100, id_col: str = "doc_id") -> str:
    """DuckDB SQL producing the identical vocabulary (oracle emitter)."""
    return (
        f"WITH toks AS (SELECT {id_col}, t.token FROM {table}, "
        f"UNNEST(string_split_regex(lower(trim({text_col})), '{WS}')) AS t(token) "
        f"WHERE t.token <> ''), "
        f"counts AS (SELECT token, count(*) AS n_total, "
        f"count(DISTINCT {id_col}) AS n_docs FROM toks GROUP BY token), "
        f"ranked AS (SELECT *, row_number() OVER "
        f"(ORDER BY n_total DESC, token) AS rank FROM counts) "
        f"SELECT token, n_total, n_docs, rank FROM ranked WHERE rank <= {k}"
    )


def tfidf_top_terms_sql(table: str = "documents", text_col: str = "text",
                        k: int = 3, id_col: str = "doc_id") -> str:
    """DuckDB SQL producing the identical per-doc tf·idf terms (oracle)."""
    return (
        f"WITH toks AS (SELECT {id_col}, t.token FROM {table}, "
        f"UNNEST(string_split_regex(lower(trim({text_col})), '{WS}')) AS t(token) "
        f"WHERE t.token <> ''), "
        f"tf AS (SELECT {id_col}, token, count(*) AS tf FROM toks "
        f"GROUP BY {id_col}, token), "
        f"dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token), "
        f"n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM {table}), "
        f"scored AS (SELECT {id_col}, tf.token, tf, df, "
        + floor_round("tf * ln(n_docs / df)", 6)
        + " AS tfidf FROM tf "
        f"JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n), "
        f"ranked AS (SELECT *, row_number() OVER (PARTITION BY {id_col} "
        f"ORDER BY tfidf DESC, token) AS rank FROM scored) "
        f"SELECT {id_col}, token, tf, df, tfidf, rank FROM ranked "
        f"WHERE rank <= {k}"
    )


def lm_score_sql(table: str = "documents", text_col: str = "text",
                 id_col: str = "doc_id") -> str:
    """DuckDB SQL producing the identical bigram-LM scores (oracle)."""
    ws = f"string_split_regex(lower(trim({text_col})), '{WS}')"
    return (
        f"WITH w AS (SELECT {id_col}, {ws} AS ws FROM {table}), "
        f"toks AS (SELECT {id_col}, ws[i+1] AS w1, "
        f"concat_ws(' ', ws[i+1], ws[i+2]) AS bg "
        f"FROM w, UNNEST(range(greatest(len(ws) - 1, 0))) AS t(i)), "
        "c2 AS (SELECT bg, count(*) AS c2 FROM toks GROUP BY bg), "
        "c1 AS (SELECT w1, count(*) AS c1 FROM toks GROUP BY w1), "
        f"uni AS (SELECT count(DISTINCT t.token) AS v FROM {table}, "
        f"UNNEST({ws}) AS t(token) WHERE t.token <> ''), "
        "lp AS (SELECT toks.{id}, CAST(".format(id=id_col)
        + floor_round("ln((c2.c2 + 1) / CAST(c1.c1 + uni.v AS DOUBLE))",
                      6)
        + " AS DECIMAL(18,6)) AS lp "
        "FROM toks JOIN c2 USING (bg) JOIN c1 USING (w1) CROSS JOIN uni) "
        f"SELECT {id_col}, count(*) AS n_bigrams, "
        + floor_round("CAST(sum(lp) AS DOUBLE) / count(*)")
        + f" AS avg_logprob FROM lp GROUP BY {id_col}"
    )


def repetition_sql(c: str, n: int = 2) -> dict[str, str]:
    """DuckDB emitters with identical semantics (list-native, no unnest).

    The most-frequent-word share is computed as a per-distinct-word count
    scan — mathematically identical to the Spark sorted-run formulation.
    """
    ws = f"string_split_regex(lower(trim({c})), '{WS}')"
    grams = (
        f"list_transform(range(greatest(len({ws}) - {n - 1}, 0)), "
        f"i -> array_to_string(({ws})[i+1:i+{n}], ' '))"
    )
    best = (
        f"list_max(list_transform(list_distinct({ws}), "
        f"x -> len(list_filter({ws}, y -> y = x))))"
    )
    return {
        "dup_word_frac": floor_round(
            f"(len({ws}) - len(list_distinct({ws})))"
            f" / greatest(len({ws}), 1)"),
        "dup_gram_frac": (
            f"CASE WHEN len({grams}) = 0 THEN 0.0 ELSE "
            + floor_round(
                f"(len({grams}) - len(list_distinct({grams})))"
                f" / greatest(len({grams}), 1)") + " END"),
        "top_word_frac": floor_round(
            f"{best} / greatest(len({ws}), 1)"),
    }
