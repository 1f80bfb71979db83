"""Graph-algorithm oracles (``operators/graph.py``): the iterations unrolled as CTEs."""

from oracles.common import floor_round



def hits_sql(edges_sql: str, *, iters: int = 5) -> str:
    """DuckDB SQL unrolling the identical HITS iteration (oracle).

    ``edges_sql`` must select columns (src, dst). Same construction
    rules as :func:`pagerank_sql`: quoted-string double literals,
    BIGINT micro-unit sums, identical association in every divide.

    Every CTE is ``AS MATERIALIZED`` — the oracle-side twin of the
    operator's mandatory localCheckpoint. DuckDB may inline a CTE per
    reference, and the mutual recursion references each level at least
    twice (score join + normalization total), so the inlined expansion
    multiplies base-table scans ~4× per iteration: at 5 iterations the
    un-materialized oracle opened thousands of parquet readers and
    died on fd exhaustion inside a long oracle-sweep session.
    MATERIALIZED pins one evaluation per level (values unchanged — the
    same exact-integer arithmetic either way).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")

    q = "CAST('1e12' AS DOUBLE)"
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges)",
        "stats AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        "h0 AS MATERIALIZED (SELECT node, CAST('1.0' AS DOUBLE) / n "
        "AS hub FROM nodes CROSS JOIN stats)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT e.dst, "
            f"CAST(sum(CAST(floor(h.hub * {q}) "
            f"AS BIGINT)) AS BIGINT) AS araw FROM edges e "
            f"JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst)")
        parts.append(
            f"at{i} AS MATERIALIZED (SELECT "
            f"CAST(coalesce(sum(araw), 0) AS BIGINT) "
            f"AS atot FROM ar{i})")
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT nodes.node, "
            f"CAST(coalesce(ar{i}.araw, 0) AS DOUBLE) "
            f"/ CAST(at{i}.atot AS DOUBLE) AS auth "
            f"FROM nodes CROSS JOIN at{i} "
            f"LEFT JOIN ar{i} ON nodes.node = ar{i}.dst)")
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT e.src, "
            f"CAST(sum(CAST(floor(a.auth * {q}) "
            f"AS BIGINT)) AS BIGINT) AS hraw FROM edges e "
            f"JOIN a{i} a ON e.dst = a.node GROUP BY e.src)")
        parts.append(
            f"ht{i} AS MATERIALIZED (SELECT "
            f"CAST(coalesce(sum(hraw), 0) AS BIGINT) "
            f"AS htot FROM hr{i})")
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT nodes.node, "
            f"CAST(coalesce(hr{i}.hraw, 0) AS DOUBLE) "
            f"/ CAST(ht{i}.htot AS DOUBLE) AS hub "
            f"FROM nodes CROSS JOIN ht{i} "
            f"LEFT JOIN hr{i} ON nodes.node = hr{i}.src)")
    return (
        ", ".join(parts)
        + f" SELECT h{iters}.node, hub, auth, row_number() OVER "
        f"(ORDER BY auth DESC, h{iters}.node) AS auth_pos "
        f"FROM h{iters} JOIN a{iters} ON h{iters}.node = a{iters}.node"
    )


def pagerank_sql(edges_sql: str, *, iters: int = 5,
                 damping: float = 0.85, dangling: str = "leak",
                 seeds: list | None = None,
                 weight: str | None = None) -> str:
    """DuckDB SQL unrolling the identical fixed-point iteration (oracle).

    ``edges_sql`` must select columns (src, dst).  Doubles are built
    from quoted-string casts (correctly-rounded parse, identical to the
    Python literals Spark embeds); contribution sums are BIGINT.
    ``weight`` names the weight column ``edges_sql`` emits and mirrors
    ``pagerank(weight_col=…)``: the same positive-weight filter,
    DECIMAL(18,6) per-source totals, and one decimal-exact IEEE divide
    per edge. ``dangling='redistribute'`` mirrors :func:`pagerank`'s option: the
    per-iteration dangling total is the same quantized BIGINT sum, and
    the rank update appends ``+ (dq/1e12)/n`` with identical
    association, so the engines stay bit-equal. ``seeds`` mirrors the
    personalized variant: the same CASE teleport vector, the same
    per-row ``(1-d)·tele`` multiply, dangling mass times ``tele``.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if dangling not in ("leak", "redistribute"):
        raise ValueError(
            f"dangling must be 'leak' or 'redistribute': {dangling!r}")

    def d(x: float) -> str:
        return f"CAST('{x!r}' AS DOUBLE)"

    q = "CAST('1e12' AS DOUBLE)"
    one_minus = 1.0 - damping
    redis = dangling == "redistribute"
    if seeds is not None:
        seeds = list(seeds)
        if not seeds:
            raise ValueError("seeds must be a non-empty list (or None)")
        if len(set(seeds)) != len(seeds):
            raise ValueError(f"duplicate seeds: {seeds}")
        ids = ", ".join(str(s) for s in seeds)

        def tele(node: str) -> str:
            return (f"(CASE WHEN {node} IN ({ids}) "
                    f"THEN {d(1.0 / len(seeds))} ELSE {d(0.0)} END)")

        r0 = f"r0 AS (SELECT node, {tele('node')} AS rank FROM nodes)"
    else:
        r0 = (f"r0 AS (SELECT node, {d(1.0)} / n AS rank "
              "FROM nodes CROSS JOIN stats)")
    if weight is None:
        edges_cte = f"WITH edges AS ({edges_sql})"
        outdeg_cte = ("outdeg AS (SELECT src, count(*) AS outdeg "
                      "FROM edges GROUP BY src)")
        ed_cte = ("ed AS (SELECT e.src, e.dst, o.outdeg FROM edges e "
                  "JOIN outdeg o ON e.src = o.src)")
    else:
        edges_cte = (f"WITH edges AS (SELECT * FROM ({edges_sql}) "
                     f"WHERE {weight} > 0)")
        outdeg_cte = (f"outdeg AS (SELECT src, sum(CAST({weight} AS "
                      "DECIMAL(18,6))) AS out_w FROM edges GROUP BY src)")
        ed_cte = ("ed AS (SELECT e.src, e.dst, "
                  f"CAST(CAST(e.{weight} AS DECIMAL(18,6)) AS DOUBLE) "
                  "/ CAST(o.out_w AS DOUBLE) AS frac FROM edges e "
                  "JOIN outdeg o ON e.src = o.src)")
    parts = [
        edges_cte,
        "nodes AS (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges)",
        "stats AS (SELECT count(*) AS n FROM nodes)",
        outdeg_cte,
        ed_cte,
        r0,
    ]
    if redis:
        parts.append(
            "dnodes AS (SELECT n1.node FROM nodes n1 LEFT JOIN outdeg o "
            "ON n1.node = o.src WHERE o.src IS NULL)")
    base = (f"({d(one_minus)} * {tele('nodes.node')})" if seeds is not None
            else f"({d(one_minus)} / n)")
    for i in range(1, iters + 1):
        share = ("(r.rank * ed.frac)" if weight is not None
                 else "(r.rank / ed.outdeg)")
        parts.append(
            f"c{i} AS (SELECT ed.dst, CAST(sum(CAST(floor({share} "
            f"* {q}) AS BIGINT)) AS BIGINT) AS csum "
            f"FROM ed JOIN r{i - 1} r ON ed.src = r.node GROUP BY ed.dst)")
        if redis:
            parts.append(
                f"d{i} AS (SELECT CAST(coalesce(sum(CAST(floor(r.rank "
                f"* {q}) AS BIGINT)), 0) AS BIGINT) AS dq "
                f"FROM dnodes JOIN r{i - 1} r ON dnodes.node = r.node)")
            dterm = (f"((CAST(d{i}.dq AS DOUBLE) / {q}) "
                     + (f"* {tele('nodes.node')})" if seeds is not None
                        else "/ n)"))
            parts.append(
                f"r{i} AS (SELECT nodes.node, {base} "
                f"+ ({d(damping)} * ((CAST(coalesce(c{i}.csum, 0) "
                f"AS DOUBLE) / {q}) + {dterm})) AS rank "
                f"FROM nodes CROSS JOIN stats "
                f"CROSS JOIN d{i} "
                f"LEFT JOIN c{i} ON nodes.node = c{i}.dst)")
            continue
        parts.append(
            f"r{i} AS (SELECT nodes.node, {base} "
            f"+ ({d(damping)} * (CAST(coalesce(c{i}.csum, 0) AS DOUBLE) "
            f"/ {q})) AS rank FROM nodes CROSS JOIN stats "
            f"LEFT JOIN c{i} ON nodes.node = c{i}.dst)")
    return (
        ", ".join(parts)
        + f" SELECT node, rank, row_number() OVER "
        f"(ORDER BY rank DESC, node) AS rank_pos FROM r{iters}"
    )


def triangle_sql(edges_sql: str) -> str:
    """DuckDB SQL twin of :func:`triangle_count` (oracle).

    ``edges_sql`` must select columns (src, dst). The identical CTE
    chain: canonicalize, degree, (deg, id)-orient, wedge self-join,
    closure probe, per-corner union — BIGINT counts throughout, one
    floor-rounded IEEE divide for the coefficient. Wedge/closure CTEs
    are MATERIALIZED (each is referenced from multiple corners of the
    per-node union; see :func:`hits_sql` on DuckDB CTE inlining).
    """
    coeff = floor_round(
        "(2.0 * CAST(coalesce(t.triangles, 0) AS DOUBLE))"
        " / (CAST(deg.degree AS DOUBLE) * CAST(deg.degree - 1 AS DOUBLE))",
        6)
    return f"""
WITH raw AS MATERIALIZED ({edges_sql}),
e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node),
o AS MATERIALIZED (
  SELECT CASE WHEN (da.degree < db.degree)
              OR (da.degree = db.degree AND e.a < e.b)
         THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.degree < db.degree)
              OR (da.degree = db.degree AND e.a < e.b)
         THEN e.b ELSE e.a END AS v,
         CASE WHEN (da.degree < db.degree)
              OR (da.degree = db.degree AND e.a < e.b)
         THEN db.degree ELSE da.degree END AS dv
  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM o e1
  JOIN o e2 ON e1.u = e2.u
          AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
  JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
per_node AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
  GROUP BY node)
SELECT deg.node, deg.degree,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.degree >= 2 THEN {coeff}
            ELSE CAST('0.0' AS DOUBLE) END AS clustering
FROM deg LEFT JOIN per_node t ON deg.node = t.node
""".strip()


def label_propagation_sql(edges_sql: str, *, iters: int = 3) -> str:
    """DuckDB SQL twin of :func:`label_propagation` (oracle): the
    identical symmetrize / count / (count DESC, label ASC) pick chain,
    unrolled per round; CTEs MATERIALIZED (see :func:`hits_sql`)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    parts = [
        f"WITH raw AS MATERIALIZED ({edges_sql})",
        "e AS MATERIALIZED (SELECT src AS a, dst AS b FROM raw "
        "WHERE src <> dst)",
        "und AS MATERIALIZED (SELECT DISTINCT a, b FROM "
        "(SELECT a, b FROM e UNION ALL SELECT b, a FROM e))",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)",
        "l0 AS MATERIALIZED (SELECT node, node AS community FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT und.a, l.community, "
            f"CAST(count(*) AS BIGINT) AS cnt "
            f"FROM und JOIN l{i - 1} l ON und.b = l.node "
            f"GROUP BY und.a, l.community)")
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT a AS node, community FROM ("
            f"SELECT a, community, row_number() OVER (PARTITION BY a "
            f"ORDER BY cnt DESC, community ASC) AS _rn FROM n{i}) "
            f"WHERE _rn = 1)")
    return (
        ", ".join(parts)
        + f" SELECT nodes.node, coalesce(l{iters}.community, nodes.node) "
        f"AS community FROM nodes LEFT JOIN l{iters} "
        f"ON nodes.node = l{iters}.node"
    )


def bfs_levels_sql(edges_sql: str, seeds, *, max_hops: int = 3) -> str:
    """DuckDB SQL twin of :func:`bfs_levels` (oracle): the identical
    per-hop frontier/visited expansion, unrolled."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    seeds = list(seeds)
    if not seeds:
        raise ValueError("seeds must be a non-empty list")
    if len(set(seeds)) != len(seeds):
        raise ValueError(f"duplicate seeds: {seeds}")

    def lit(s):
        # seeds embed as SQL literals: ints verbatim, strings quoted
        # under the same escape guard as funnel steps (single-statement
        # discipline — no quote smuggling into the oracle)
        if isinstance(s, bool) or not isinstance(s, (int, str)):
            raise ValueError(f"seeds must be ints or strings: {s!r}")
        if isinstance(s, int):
            return str(s)
        if "'" in s or "\\" in s or ";" in s:
            raise ValueError(f"seed strings must not contain "
                             f"quotes/backslashes/semicolons: {s!r}")
        return f"'{s}'"

    seed_rows = " UNION ALL ".join(
        f"SELECT {lit(s)} AS node, 0 AS hops" for s in seeds)
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src AS e_src, "
        f"dst AS e_dst FROM ({edges_sql}))",
        f"v0 AS MATERIALIZED ({seed_rows})",
    ]
    for hop in range(1, max_hops + 1):
        parts.append(
            f"f{hop} AS MATERIALIZED ("
            f"SELECT DISTINCT e.e_dst AS node FROM e "
            f"JOIN v{hop - 1} f ON e.e_src = f.node "
            f"WHERE f.hops = {hop - 1} "
            f"AND e.e_dst NOT IN (SELECT node FROM v{hop - 1}))")
        parts.append(
            f"v{hop} AS MATERIALIZED ("
            f"SELECT node, hops FROM v{hop - 1} "
            f"UNION ALL SELECT node, {hop} AS hops FROM f{hop})")
    return (", ".join(parts)
            + f" SELECT node, hops FROM v{max_hops}")


def k_core_sql(edges_sql: str, *, k: int, max_rounds: int = 6) -> str:
    """DuckDB SQL twin of :func:`k_core` (oracle): the identical
    symmetrize / degree / peel chain unrolled ``max_rounds`` times
    (converged rounds are no-ops, so any round count ≥ the Spark
    early-exit point yields the same table); CTEs MATERIALIZED (see
    :func:`hits_sql`)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    parts = [
        f"WITH raw AS MATERIALIZED ({edges_sql})",
        "e AS MATERIALIZED (SELECT src AS a, dst AS b FROM raw "
        "WHERE src <> dst)",
        "u0 AS MATERIALIZED (SELECT DISTINCT a, b FROM "
        "(SELECT a, b FROM e UNION ALL SELECT b, a FROM e))",
    ]
    for i in range(1, max_rounds + 1):
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT a AS node FROM "
            f"(SELECT a, count(*) AS _deg FROM u{i - 1} GROUP BY a) "
            f"WHERE _deg >= {k})")
        parts.append(
            f"u{i} AS MATERIALIZED (SELECT u.a, u.b FROM u{i - 1} u "
            f"JOIN s{i} x ON u.a = x.node "
            f"JOIN s{i} y ON u.b = y.node)")
    return (", ".join(parts)
            + f" SELECT a AS node, CAST(count(*) AS BIGINT) AS degree "
            f"FROM u{max_rounds} GROUP BY a")
