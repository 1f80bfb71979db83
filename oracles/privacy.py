"""Privacy-release oracles (``operators/privacy.py``)."""

from flink_sql_security_spark.functions.masks import (
    duckdb_mask_show_first_n_sql)
from flink_sql_security_spark.operators.privacy import (
    DP_BUCKETS, DP_NULL, SUPPRESS_TYPES, check_cols, check_gen_spec,
    dp_check, generalizer_sql, laplace_noise_sql)

from oracles.common import floor_round
from oracles.sampling import bucket_of_key_sql


def k_anonymize_duckdb_sql(table: str, quasi_cols, k: int,
                           select_cols: list[str],
                           sensitive_col: str | None = None,
                           l: int | None = None) -> str:
    """DuckDB SQL twin of :func:`k_anonymize` (oracle): identical
    class aggregation + null-safe gate."""
    quasi_cols = check_cols(quasi_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if (sensitive_col is None) != (l is None):
        raise ValueError("sensitive_col and l must be given together")
    qs = ", ".join(quasi_cols)
    lsel = (f", count(DISTINCT {sensitive_col}) AS _class_l"
            if sensitive_col else "")
    lgate = f" AND _class_l >= {l}" if sensitive_col else ""
    on = " AND ".join(
        f"r.{q} IS NOT DISTINCT FROM c.{q}" for q in quasi_cols)
    cols = ", ".join(f"r.{c}" for c in select_cols)
    return (
        f"WITH classes AS (SELECT {qs}, count(*) AS _class_n{lsel} "
        f"FROM {table} GROUP BY {qs}) "
        f"SELECT {cols} FROM {table} r JOIN classes c ON {on} "
        f"WHERE _class_n >= {k}{lgate}")


def _gen_duckdb(col: str, g: tuple) -> str:
    """DuckDB SQL for one generalizer rung step."""
    if g[0] == "suppress":
        return f"CAST(NULL AS {SUPPRESS_TYPES[g[1]][1]})"
    if g[0] == "mask_show_first":
        inner = duckdb_mask_show_first_n_sql(col, int(g[1]),
                                             up="x", low="x", dig="x")
        # DuckDB's concat folds NULL to '' while Spark's returns NULL —
        # the CASE keeps NULL quasi-values NULL on both engines (they
        # then form their own class, the k_anonymize convention)
        return f"CASE WHEN {col} IS NULL THEN NULL ELSE {inner} END"
    return generalizer_sql(col, g)


def generalize_duckdb_select(cols: list[str], spec: dict) -> str:
    """The oracle-side projection list mirroring :func:`generalize`."""
    spec = check_gen_spec(dict(spec))
    return ", ".join(
        f"{_gen_duckdb(c, spec[c])} AS {c}" if c in spec else c
        for c in cols)


def generalization_report_duckdb_sql(table: str, quasi_cols, ladder,
                                     k: int,
                                     sensitive_col: str | None = None,
                                     l: int | None = None) -> str:
    """DuckDB SQL twin of :func:`generalization_report` (oracle):
    identical per-rung class aggregation, gate, and guarded divide."""
    quasi_cols = check_cols(quasi_cols)
    ladder = list(ladder)
    if not ladder:
        raise ValueError("ladder must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if (sensitive_col is None) != (l is None):
        raise ValueError("sensitive_col and l must be given together")
    keep_cols = quasi_cols + ([sensitive_col] if sensitive_col else [])
    qs = ", ".join(quasi_cols)
    lsel = (f", count(DISTINCT {sensitive_col}) AS _l"
            if sensitive_col else "")
    parts = [f"WITH base AS MATERIALIZED "
             f"(SELECT {', '.join(keep_cols)} FROM {table})"]
    selects = []
    for level, (name, spec) in enumerate(ladder):
        sel = generalize_duckdb_select(keep_cols, spec)
        gate = f"_n >= {k}"
        if sensitive_col is not None:
            gate += f" AND _l >= {l}"
        l_eff = ("CAST(min(_l) AS BIGINT)" if sensitive_col
                 else "CAST(NULL AS BIGINT)")
        kept = (f"CAST(coalesce(sum(CASE WHEN {gate} THEN _n "
                f"ELSE 0 END), 0) AS BIGINT)")
        pct = floor_round(
            f"CAST({kept} AS DOUBLE) * 100.0 "
            f"/ CAST(sum(_n) AS DOUBLE)", 6)
        parts.append(
            f"c{level} AS (SELECT {qs}, count(*) AS _n{lsel} "
            f"FROM (SELECT {sel} FROM base) GROUP BY {qs})")
        selects.append(
            f"SELECT {level} AS level, '{name}' AS rung, "
            f"CAST(count(*) AS BIGINT) AS n_classes, "
            f"CAST(min(_n) AS BIGINT) AS k_effective, "
            f"{l_eff} AS l_effective, "
            f"{kept} AS rows_kept, "
            f"CASE WHEN sum(_n) > 0 THEN {pct} END AS kept_pct "
            f"FROM c{level}")
    return ", ".join(parts) + " " + " UNION ALL ".join(selects)


def t_closeness_report_duckdb_sql(table: str, quasi_cols,
                                  sensitive_col: str) -> str:
    """DuckDB SQL twin of :func:`t_closeness_report` (oracle):
    identical exact-integer TVD numerator/denominator (HUGEINT — the
    same exact integers the Spark plan carries as DECIMAL(38,0)), one
    double division, same floor-round."""
    quasi_cols = check_cols(quasi_cols)
    if sensitive_col in quasi_cols:
        raise ValueError(
            f"sensitive_col {sensitive_col!r} overlaps quasi_cols")
    qs = ", ".join(quasi_cols)
    tvd = floor_round(
        "CAST(_s1 + _n_c * _N - _n_c * _s2 AS DOUBLE) "
        "/ CAST(2 * _n_c * _N AS DOUBLE)", 6)
    return (
        f"WITH cv AS (SELECT {qs}, {sensitive_col}, "
        f"CAST(count(*) AS HUGEINT) AS _n_cv "
        f"FROM {table} GROUP BY {qs}, {sensitive_col}), "
        f"v AS (SELECT {sensitive_col}, CAST(count(*) AS HUGEINT) AS _n_v "
        f"FROM {table} GROUP BY {sensitive_col}), "
        f"t AS (SELECT CAST(count(*) AS HUGEINT) AS _N FROM {table}), "
        f"j AS (SELECT cv.*, v._n_v, t._N, "
        f"sum(_n_cv) OVER (PARTITION BY {qs}) AS _n_c "
        f"FROM cv JOIN v ON cv.{sensitive_col} "
        f"IS NOT DISTINCT FROM v.{sensitive_col} CROSS JOIN t), "
        f"pc AS (SELECT {qs}, min(_n_c) AS _n_c, min(_N) AS _N, "
        f"sum(abs(_n_cv * _N - _n_v * _n_c)) AS _s1, "
        f"sum(_n_v) AS _s2 FROM j GROUP BY {qs}) "
        f"SELECT {qs}, CAST(_n_c AS BIGINT) AS class_n, {tvd} AS tvd "
        f"FROM pc")


def t_close_release_duckdb_sql(table: str, quasi_cols,
                               sensitive_col: str, t: float,
                               select_cols: list[str]) -> str:
    """DuckDB SQL twin of :func:`t_close_release` (oracle)."""
    if not 0.0 <= float(t) <= 1.0:
        raise ValueError(f"t must be in [0, 1]: {t}")
    quasi_cols = check_cols(quasi_cols)
    report = t_closeness_report_duckdb_sql(table, quasi_cols,
                                           sensitive_col)
    on = " AND ".join(
        f"r.{q} IS NOT DISTINCT FROM c.{q}" for q in quasi_cols)
    cols = ", ".join(f"r.{c}" for c in select_cols)
    return (
        f"SELECT {cols} FROM {table} r "
        f"JOIN (SELECT * FROM ({report}) WHERE tvd <= {float(t)!r}) c "
        f"ON {on}")


def anonymity_report_duckdb_sql(table: str, quasi_cols,
                                sensitive_col: str | None = None) -> str:
    """DuckDB SQL twin of :func:`anonymity_report` (oracle)."""
    quasi_cols = check_cols(quasi_cols)
    qs = ", ".join(quasi_cols)
    lsel = (f", count(DISTINCT {sensitive_col}) AS _l"
            if sensitive_col else "")
    l_eff = ("CAST(min(_l) AS BIGINT)" if sensitive_col
             else "CAST(NULL AS BIGINT)")
    pct = floor_round(
        "CAST(sum(CASE WHEN _n = 1 THEN _n ELSE 0 END) AS DOUBLE) "
        "* 100.0 / CAST(sum(_n) AS DOUBLE)", 6)
    return (
        f"WITH classes AS (SELECT {qs}, count(*) AS _n{lsel} "
        f"FROM {table} GROUP BY {qs}) "
        f"SELECT CAST(sum(_n) AS BIGINT) AS n_rows, "
        f"CAST(count(*) AS BIGINT) AS n_classes, "
        f"CAST(min(_n) AS BIGINT) AS k_effective, "
        f"{l_eff} AS l_effective, "
        f"CAST(sum(CASE WHEN _n = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS singleton_classes, "
        f"{pct} AS singleton_rows_pct "
        f"FROM classes")


def _dp_noise_duckdb(group_cols, seed: str, scale: float) -> str:
    cols = ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), '{DP_NULL}')" for c in group_cols)
    key = f"concat_ws('|', {cols}, ':{seed}')"
    return laplace_noise_sql(bucket_of_key_sql(key, DP_BUCKETS), scale)


def dp_count_duckdb_sql(table: str, group_cols, *, epsilon: float,
                        seed: str,
                        threshold: float | None = None) -> str:
    """DuckDB SQL twin of :func:`dp_count` (oracle)."""
    group_cols = dp_check(group_cols, epsilon, seed)
    qs = ", ".join(group_cols)
    noise = _dp_noise_duckdb(group_cols, seed, 1.0 / float(epsilon))
    val = floor_round(f"CAST(_n AS DOUBLE) + {noise}", 6)
    gate = (f" WHERE n_noisy >= {float(threshold)!r}"
            if threshold is not None else "")
    return (
        f"SELECT * FROM (SELECT {qs}, {val} AS n_noisy FROM "
        f"(SELECT {qs}, count(*) AS _n FROM {table} GROUP BY {qs})"
        f"){gate}")


def dp_sum_duckdb_sql(table: str, group_cols, value_col: str, *,
                      clip: float, epsilon: float, seed: str) -> str:
    """DuckDB SQL twin of :func:`dp_sum` (oracle)."""
    group_cols = dp_check(group_cols, epsilon, seed)
    if not float(clip) > 0:
        raise ValueError(f"clip must be > 0: {clip}")
    qs = ", ".join(group_cols)
    clipped = (f"least(greatest(coalesce(CAST({value_col} AS DOUBLE), "
               f"0.0), 0.0), {float(clip)!r})")
    qexpr = f"CAST(floor({clipped} * 1000000.0 + 0.5) AS BIGINT)"
    noise = _dp_noise_duckdb(group_cols, seed,
                             float(clip) / float(epsilon))
    val = floor_round(
        f"CAST(_qs AS DOUBLE) / 1000000.0 + {noise}", 6)
    return (
        f"SELECT {qs}, {val} AS sum_noisy FROM "
        f"(SELECT {qs}, sum({qexpr}) AS _qs FROM {table} GROUP BY {qs})")
