"""Data-profiling oracles (``operators/profile.py``)."""

from flink_sql_security_spark.operators.profile import (
    QUANTILE_PS, SCALE_METHODS)

from oracles.common import floor_round, norm


def profile_numeric_duckdb_sql(table: str, cols: list[str]) -> str:
    """DuckDB SQL producing the identical profile (oracle emitter)."""
    parts = []
    for c in cols:
        d = f"CAST({c} AS DECIMAL(18,2))"
        parts.append(
            f"SELECT '{c}' AS \"column\", count({c}) AS n, "
            # CAST: DuckDB sums of INTEGER return HUGEINT (→ float64 in
            # pandas); Spark's is BIGINT — align the pandas dtypes exactly
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({d}) AS DOUBLE) AS \"min\", "
            f"CAST(max({d}) AS DOUBLE) AS \"max\", "
            # native-round-ok (sum): exact DECIMAL(18,2) sum
            f"round(CAST(sum({d}) AS DOUBLE), 2) "  # native-round-ok
            f"AS \"sum\", "
            + floor_round(f"CAST(sum({d}) AS DOUBLE) / count({c})",
                           6) + " AS mean "
            f"FROM {table}")
    return " UNION ALL ".join(parts)


def profile_quantiles_duckdb_sql(table: str, cols: list[str],
                                 ps: tuple = QUANTILE_PS) -> str:
    """DuckDB SQL producing the identical quantile profile (oracle)."""
    parts = []
    for c in cols:
        v = f"CAST(CAST({c} AS DECIMAL(18,2)) AS DOUBLE)"
        qs = ", ".join(
            floor_round(f"quantile_cont({v}, {p})", 6)
            + f" AS p{int(p * 100)}"
            for p in ps)
        parts.append(f"SELECT '{c}' AS \"column\", {qs} FROM {table}")
    return " UNION ALL ".join(parts)


def robust_outliers_duckdb_sql(table: str, *, value_col: str,
                               group_cols: list[str], id_cols: list[str],
                               k: float = 3.0) -> str:
    """DuckDB SQL twin of :func:`robust_outliers` (oracle): the same
    lower-median rank selection, deviation, MAD, and floor-rounded
    score."""
    if not group_cols or not id_cols:
        raise ValueError("group_cols and id_cols must be non-empty")
    g = ", ".join(group_cols)
    ids = ", ".join(id_cols)
    score = floor_round("_dev / _mad", 6)
    return f"""
WITH base AS (
  SELECT {g}, {ids}, CAST({value_col} AS DOUBLE) AS _v
  FROM {table} WHERE {value_col} IS NOT NULL),
med AS (
  SELECT *,
    max(CASE WHEN _rn = (_n + 1) // 2 THEN _v END)
      OVER (PARTITION BY {g}) AS _med
  FROM (
    SELECT *,
      row_number() OVER (PARTITION BY {g} ORDER BY _v, {ids}) AS _rn,
      count(*) OVER (PARTITION BY {g}) AS _n
    FROM base)),
mad AS (
  SELECT *,
    max(CASE WHEN _rn2 = (_n + 1) // 2 THEN _dev END)
      OVER (PARTITION BY {g}) AS _mad
  FROM (
    SELECT *, abs(_v - _med) AS _dev,
      row_number() OVER (
        PARTITION BY {g} ORDER BY abs(_v - _med), {ids}) AS _rn2
    FROM med))
SELECT {g}, {ids}, _v AS value, _med AS med, _mad AS mad,
       CASE WHEN _mad > 0 THEN {score} END AS score
FROM mad WHERE _dev > CAST('{float(k)!r}' AS DOUBLE) * _mad
""".strip()


def feature_scale_duckdb_sql(table: str, *, value_col: str,
                             group_cols: list[str], id_cols: list[str],
                             method: str = "zscore") -> str:
    """DuckDB SQL twin of :func:`feature_scale` (oracle): identical
    decimal-exact sums and IEEE expression order."""
    if method not in SCALE_METHODS:
        raise ValueError(
            f"method must be one of {SCALE_METHODS}: {method!r}")
    if not group_cols or not id_cols:
        raise ValueError("group_cols and id_cols must be non-empty")
    g = ", ".join(group_cols)
    ids = ", ".join(id_cols)
    if method == "rank":
        expr = floor_round(
            f"percent_rank() OVER (PARTITION BY {g} ORDER BY _v)",
            6)
        scaled = (f"CASE WHEN count(*) OVER (PARTITION BY {g}) > 1 "
                  f"THEN {expr} END")
    elif method == "minmax":
        mn = f"min(_v) OVER (PARTITION BY {g})"
        mx = f"max(_v) OVER (PARTITION BY {g})"
        expr = floor_round(f"(_v - {mn}) / ({mx} - {mn})", 6)
        scaled = f"CASE WHEN ({mx} - {mn}) > 0 THEN {expr} END"
    else:
        s1 = (f"CAST(sum(CAST(_v AS DECIMAL(18,6))) "
              f"OVER (PARTITION BY {g}) AS DOUBLE)")
        # widen one operand so DuckDB's int64 decimal multiply gets
        # int128 headroom (19+18=37 ≤ 38); the product is the same
        # exact 12-scale decimal Spark computes natively
        s2 = (f"CAST(sum(CAST(CAST(_v AS DECIMAL(19,6)) "
              f"* CAST(_v AS DECIMAL(18,6)) AS DECIMAL(38,12))) "
              f"OVER (PARTITION BY {g}) AS DOUBLE)")
        n = f"CAST(count(*) OVER (PARTITION BY {g}) AS DOUBLE)"
        var = (f"CASE WHEN count(*) OVER (PARTITION BY {g}) > 1 "
               f"THEN greatest(({s2} - ({s1} * {s1}) / {n}) "
               f"/ ({n} - 1.0), 0.0) END")
        std = f"sqrt({var})"
        expr = floor_round(f"(_v - {s1} / {n}) / {std}", 6)
        scaled = f"CASE WHEN {std} > 0 THEN {expr} END"
    return f"""
SELECT {g}, {ids}, _v AS value, {scaled} AS scaled
FROM (SELECT {g}, {ids}, CAST({value_col} AS DOUBLE) AS _v
      FROM {table} WHERE {value_col} IS NOT NULL)
""".strip()


def profile_correlations_duckdb_sql(table: str, cols: list[str]) -> str:
    """DuckDB SQL twin of :func:`profile_correlations` (oracle)."""
    if len(cols) < 2:
        raise ValueError(f"need >= 2 cols: {cols!r}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate cols: {cols!r}")
    cols = list(cols)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)

    def d(c):
        return f"CAST(CAST({c} AS DOUBLE) AS DECIMAL(18,6))"

    def dw(c):
        return f"CAST(CAST({c} AS DOUBLE) AS DECIMAL(19,6))"

    sums = ["CAST(count(*) AS BIGINT) AS _n"]
    for c in cols:
        sums.append(f"sum({d(c)}) AS s_{c}")
        sums.append(f"sum(CAST({dw(c)} * {d(c)} AS DECIMAL(38,12))) "
                    f"AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        sums.append(f"sum(CAST({dw(a)} * {d(b)} AS DECIMAL(38,12))) "
                    f"AS sp_{a}_{b}")
    selects = []
    for a, b in pairs:
        pa, pb = (a, b) if a < b else (b, a)
        n = "CAST(_n AS DOUBLE)"
        sa, sb = f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
        ssa, ssb = f"CAST(ss_{a} AS DOUBLE)", f"CAST(ss_{b} AS DOUBLE)"
        sp = f"CAST(sp_{a}_{b} AS DOUBLE)"
        va = f"({n} * {ssa} - {sa} * {sa})"
        vb = f"({n} * {ssb} - {sb} * {sb})"
        corr = floor_round(
            f"({n} * {sp} - {sa} * {sb}) / (sqrt({va}) * sqrt({vb}))",
            6)
        selects.append(
            f"SELECT '{pa}' AS col_a, '{pb}' AS col_b, _n AS n, "
            f"CASE WHEN {va} > 0 AND {vb} > 0 THEN {corr} END AS corr "
            "FROM stats")
    return (f"WITH stats AS (SELECT {', '.join(sums)} FROM {table} "
            f"WHERE {notnull}) " + " UNION ALL ".join(selects))


def profile_embeddings_duckdb_sql(table: str = "embeddings",
                                  vec_col: str = "embedding",
                                  id_col: str = "vec_id",
                                  dim: int = 64) -> str:
    """DuckDB SQL twin of :func:`profile_embeddings` (oracle)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1: {dim}")
    def tail(metric, key):
        var = "(n * ss - s * s) / (n * n)"
        return (f"SELECT '{metric}' AS metric, CAST({key} AS INTEGER) "
                f"AS dim, n, "
                + floor_round("s / n", 6) + " AS mean, "
                + floor_round(
                    f"sqrt(CASE WHEN {var} > 0 THEN {var} ELSE 0 END)",
                    6)
                + " AS std, CAST(mn AS DOUBLE) AS min_v, "
                "CAST(mx AS DOUBLE) AS max_v")

    dim_stats = (
        # zipped unnests (DuckDB has no WITH ORDINALITY): position and
        # value expand in lockstep
        f"d AS (SELECT unnest(range(len({vec_col}))) AS k, "
        f"CAST(CAST(unnest({vec_col}) AS DOUBLE) AS DECIMAL(18,6)) AS v "
        f"FROM {table}), "
        "da AS (SELECT k, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(v) AS DOUBLE) AS s, "
        "CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS ss, "
        "min(v) AS mn, max(v) AS mx FROM d GROUP BY k)")
    norm_expr = floor_round(norm(vec_col), 6)
    norm_stats = (
        f"nv AS (SELECT CAST({norm_expr} AS DECIMAL(18,6)) AS v "
        f"FROM {table}), "
        "na AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(v) AS DOUBLE) AS s, "
        "CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS ss, "
        "min(v) AS mn, max(v) AS mx FROM nv)")
    mean_d = floor_round("s / n", 6)
    centroid = (
        "SELECT 'centroid' AS metric, CAST(NULL AS INTEGER) AS dim, "
        f"CAST({dim} AS BIGINT) AS n, "
        + floor_round(
            "sqrt(CAST(sum(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE))",
            6)
        + " AS mean, CAST(NULL AS DOUBLE) AS std, "
        "CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v "
        f"FROM (SELECT {mean_d} AS m FROM da)")
    return (f"WITH {dim_stats}, {norm_stats} "
            + tail("dim", "k") + " FROM da UNION ALL "
            + tail("norm", "NULL") + " FROM na UNION ALL " + centroid)
