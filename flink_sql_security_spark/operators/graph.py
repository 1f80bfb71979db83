"""Iterative graph analytics on DataFrames: fixed-iteration PageRank
and HITS (hubs/authorities).

The link-analysis primitive of a corpus pipeline — rank entities by
connectivity (site importance for crawl prioritization, influence
scoring over an interaction graph).  Not present in the reference (no
graph surface there); built Spark-first as the classic synchronous
power-iteration expressed in joins + aggregations, the same shape
GraphX/Pregel lowers to.

Scale design (100 TB edge sets):

- Each iteration is exactly one shuffle join (edges ⋈ ranks on src) and
  one shuffle aggregation (sum of contributions by dst).  The
  edge+outdegree table is persisted ONCE and reused by every iteration
  (at cluster scale: a bucketed parquet table by src, making the
  per-iteration join co-located and shuffle-free on the big side).
- The rank table is |V| rows — orders of magnitude smaller than |E| —
  so AQE typically broadcasts it into the edge join; the per-iteration
  cost is dominated by one pass over the edges.
- Iterations are a fixed small count (power iteration converges
  geometrically; 5–20 is the practical range), run as one optimized
  DAG: an eager checkpoint every few rounds measured as a loss
  (SCALING.md), so the lineage is not cut.

Strict-oracle float parity (the hard part of distributed PageRank —
floating-point addition is not associative, so a naive sum over
incoming edges depends on partitioning): every per-edge contribution is
QUANTIZED to integer micro-units, ``floor(rank/outdeg * 1e12)`` as
BIGINT, before summing.  Integer sums are exact and order-independent
on any partitioning/engine; all remaining arithmetic is per-row IEEE
double ops with literals constructed identically on both engines.  The
quantization under-counts each contribution by < 1e-12 — far below the
convergence tolerance anyone runs PageRank at — and buys bit-exact
reproducibility regardless of cluster layout, which batch re-runs and
incremental audits want anyway.

Dangling nodes (no out-edges): ``dangling='leak'`` (default) drops
their mass (ranks then sum to < 1) — fine when the graph is
symmetrized, as the shipped entry's undirected bipartite graph is.
``dangling='redistribute'`` is the standard treatment: each iteration
the dangling nodes' total rank is added back uniformly,
``rank = (1-d)/N + d*(sum_in + D/N)``, so ranks keep summing to 1.
The dangling total D is itself summed in quantized integer micro-units
(same ``floor(rank·1e12)`` rule as the contributions) so it is exact
and order-independent on any partitioning — the redistribute option
stays strictly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import attach

_QUANTUM = 1.0e12

# The |V|-row rank/score/label/frontier/survivor tables are derived
# through joins and aggregates, so Catalyst has no size estimate and
# plans SortMergeJoins that shuffle the |E|-row edge table every
# iteration. Every op here counts |V| exactly anyway, so at or under
# this many nodes it hints the broadcast (the measured win: one edge
# pass per iteration instead of an edge shuffle). Past it the |V| table
# is itself distributed state and keeps the scale-safe shuffle join.
BROADCAST_NODES_LIMIT = 5_000_000

# At or under this EXACT edge count (the cache-fill count each op runs
# anyway) the op runs as one driver-side numpy kernel over the collected
# edge table (~100 MB of edge triples) instead of a distributed loop,
# the :func:`connected_components` driver-threshold convention: the
# loop pays ~0.35 s of job/stage cadence per round while the per-round
# compute is milliseconds. Each kernel is bit-exact with its loop
# (int64-quantized sums, elementwise IEEE ops in the loop's operand
# order), pinned by the driver-vs-distributed parity tests, which set
# this to 0 to force the loop. Past it the loop runs unchanged.
DRIVER_EDGES_LIMIT = 4_000_000

# Edge count alone does not bound wedge volume: a near-clique at
# DRIVER_EDGES_LIMIT holds ~1e9 wedges, too many for one driver. The
# triangle kernel re-checks the oriented Σ c·(c−1)/2 and falls back to
# the distributed join past this many.
DRIVER_WEDGE_LIMIT = 200_000_000


def pagerank(edges, *, src: str = "src", dst: str = "dst", iters: int = 5,
             damping: float = 0.85, n_nodes: int | None = None,
             dangling: str = "leak",
             seeds: list | None = None, weight_col: str | None = None):
    """Ranks after ``iters`` synchronous PageRank iterations.

    ``edges`` is a DataFrame of DISTINCT directed (src, dst) pairs.
    Returns (node, rank, rank_pos) over every node appearing as an
    endpoint; rank_pos orders by rank desc, node asc.  Initial rank is
    uniform 1/N; per-iteration update
    ``rank = (1-d)/N + d * sum_in(floor(rank_src/outdeg * 1e12))/1e12``.

    ``seeds`` switches to PERSONALIZED PageRank (Haveliwala 2002 /
    the Page et al. 1998 personalization vector): teleport mass goes
    to the seed set instead of uniformly — ``tele(v) = 1/|S|`` for
    seed nodes, 0 elsewhere; initial rank is the teleport vector and
    the update becomes ``rank = (1-d)·tele(v) + d·sum_in`` (with
    ``dangling='redistribute'``, dangling mass also returns via
    ``tele``, the standard treatment). The result scores every node
    by proximity to the seeds — the graph-expansion primitive of
    retrieval pipelines ("documents related to THESE") and the
    crawl-frontier scorer for topic-focused corpus collection. The
    seed list folds into the plan as an IN-literal: it is
    query-sized by contract (a handful to a few thousand ids), NOT a
    distributed table — for seed sets beyond literal-folding scale,
    run one PPR per seed batch and sum (PPR is linear in the
    teleport vector). Seeds absent from the graph keep their 1/|S|
    share of teleport mass by design (it simply never lands), so
    ranks still compare across graphs sharing a seed list.

    ``weight_col`` switches to WEIGHTED PageRank: each out-edge carries
    its weight's share of the source rank instead of a uniform
    1/outdeg — the realistic trade/click graph where an edge seen 50×
    matters more than one seen once. Weights must be positive
    (non-positive rows are dropped on both engines); per-source totals
    are summed as DECIMAL(18,6) — exact and order-independent — and
    each edge's fraction is ONE IEEE divide of two decimal-exact
    doubles, so the quantized-contribution recipe (and the strict
    oracle) carries over unchanged. Weights are expected to be counts
    or ≤6-decimal-exact values (the package DECIMAL convention): a
    double with information past the 6th decimal would be rounded by
    the decimal cast, whose tie rule is engine-native — the same class
    of caveat as the DECIMAL(18,2) money rule, not a new one. With
    equal weights the ranks match
    the unweighted path to ~1e-12 (not bitwise: ``rank·(w/Σw)`` vs
    ``rank/outdeg`` round differently), pinned in pytest.

    Size gates: the rank-side joins broadcast under
    ``BROADCAST_NODES_LIMIT``, and the power iteration runs as the
    driver kernel under ``DRIVER_EDGES_LIMIT``; its per-source shares
    (including the weighted DECIMAL(18,6) fractions) come from the SAME
    Spark expressions before collection.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if dangling not in ("leak", "redistribute"):
        raise ValueError(
            f"dangling must be 'leak' or 'redistribute': {dangling!r}")
    if seeds is not None:
        seeds = list(seeds)
        if not seeds:
            raise ValueError("seeds must be a non-empty list (or None)")
        if len(set(seeds)) != len(seeds):
            raise ValueError(f"duplicate seeds: {seeds}")
    # the edge list feeds THREE derivations (nodes, outdeg, and the
    # join building ed reads it on both sides) — persist the input once
    # so an expensive upstream subtree (a join+distinct building the
    # graph) runs a single time instead of once per consumer (measured
    # 6.1 s → 2.9 s at sf0.1 on the trade-graph entry)
    if weight_col is not None:
        edges = edges.where(F.col(weight_col) > 0)
    edges = edges.persist()
    # nodes is consumed 1 + iters times (every rank rebuild left-joins
    # it) — persist so the union+distinct subtree runs once, not per
    # iteration
    nodes = (edges.select(F.col(src).alias("node"))
             .union(edges.select(F.col(dst).alias("node")))
             .distinct().persist())
    if weight_col is None:
        outdeg = edges.groupBy(src).agg(F.count("*").alias("outdeg"))
    else:
        outdeg = edges.groupBy(src).agg(
            F.sum(F.col(weight_col).cast("decimal(18,6)"))
            .alias("out_w"))
    # driver-kernel gate on the EXACT edge count; the count doubles as
    # the edge-cache fill job (the distributed path's nodes.count()
    # then reads the warm cache)
    if DRIVER_EDGES_LIMIT and edges.count() <= DRIVER_EDGES_LIMIT:
        # the per-edge share operands (outdeg counts / decimal-exact
        # weight fractions) come from the SAME Spark expressions the
        # distributed loop consumes — collected once, iterated locally
        if weight_col is None:
            ed_plan = (edges.join(F.broadcast(outdeg), src)
                       .select(F.col(src).alias("e_src"),
                               F.col(dst).alias("e_dst"), "outdeg"))
        else:
            ed_plan = (edges.join(F.broadcast(outdeg), src)
                       .select(F.col(src).alias("e_src"),
                               F.col(dst).alias("e_dst"),
                               (F.col(weight_col).cast("decimal(18,6)")
                                .cast("double")
                                / F.col("out_w").cast("double"))
                               .alias("frac")))
        out = _pagerank_driver(
            ed_plan, node_type=edges.schema[src].dataType,
            iters=iters, damping=damping, n_nodes=n_nodes,
            dangling=dangling, seeds=seeds,
            weighted=weight_col is not None)
        w = Window.orderBy(F.desc("rank"), F.asc("node"))
        out = out.withColumn("rank_pos", F.row_number().over(w))
        return attach(out, edges, nodes)
    if n_nodes is None:
        n_nodes = nodes.count()
    init = 1.0 / n_nodes                       # same IEEE divide as oracle
    base = (1.0 - damping) / n_nodes
    small_v = n_nodes <= BROADCAST_NODES_LIMIT

    def hint(df):
        return F.broadcast(df) if small_v else df

    # outdeg is ≤|V| rows — same gate: broadcasting it into the one-off
    # ed build spares the |E|-row table its only non-iteration shuffle
    if weight_col is None:
        ed = (edges.join(hint(outdeg), src)
              .select(F.col(src).alias("e_src"),
                      F.col(dst).alias("e_dst"), "outdeg")
              .persist())
    else:
        ed = (edges.join(hint(outdeg), src)
              .select(F.col(src).alias("e_src"),
                      F.col(dst).alias("e_dst"),
                      (F.col(weight_col).cast("decimal(18,6)")
                       .cast("double")
                       / F.col("out_w").cast("double")).alias("frac"))
              .persist())

    # dangling nodes = endpoints that never appear as src; a static
    # |V|-row set, derived once (the per-iteration dangling MASS still
    # re-sums over the current ranks)
    if dangling == "redistribute":
        dang_nodes = nodes.join(
            hint(outdeg.select(F.col(src).alias("node"))),
            "node", "left_anti").persist()

    # teleport vector: uniform literal, or — personalized — a CASE on
    # seed membership. Literals identical to the oracle's; the (1-d)·
    # tele multiply runs per row with the same operands on both engines
    if seeds is not None:
        tshare = 1.0 / len(seeds)

        def tele(nc):
            return (F.when(nc.isin(seeds), F.lit(tshare))
                    .otherwise(F.lit(0.0)))

        def base_col(nc):
            return F.lit(1.0 - damping) * tele(nc)

        def init_col(nc):
            return tele(nc)
    else:
        def base_col(nc):
            return F.lit(base)

        def init_col(nc):
            return F.lit(init)

    # Fused iteration state (r12 opt round): the loop carries the
    # per-iteration contribution-SUM table (and, with redistribute,
    # the 1-row dangling total) instead of a materialized |V|-row rank
    # table. rank_i is a cheap affine per-row expression over
    # csum_{i-1} (+ dq_{i-1}), so inlining it wherever a rank is
    # consumed removes the nodes-rebuild join AND its broadcast from
    # every iteration — one broadcast-build job per iteration instead
    # of two (the job cadence, not the data, dominated the loop at
    # small scale; at cluster scale it is one fewer |V|-row exchange
    # per iteration). Bit-exact by construction: the inlined
    # expression is operand-for-operand the one the former rank
    # rebuild materialized (coalesce(csum,0) covers nodes absent from
    # the sum table exactly as the former left join did), and floats
    # are never reassociated.
    sums = None     # feeds the CURRENT ranks; None = uniform/tele init
    dq = None       # 1-row dangling total alongside sums

    def rank_expr(nc):
        """Rank of node column ``nc`` given the carried state."""
        if sums is None:
            return init_col(nc)
        csum = (F.coalesce(F.col("csum"), F.lit(0)).cast("double")
                / F.lit(_QUANTUM))
        if dangling == "redistribute":
            # dangling mass returns via the teleport distribution:
            # /N uniform, ·tele(v) personalized
            dterm = F.col("dq").cast("double") / F.lit(_QUANTUM)
            dterm = (dterm * tele(nc) if seeds is not None
                     else dterm / F.lit(float(n_nodes)))
            return (base_col(nc) + (F.lit(damping) * (csum + dterm)))
        return base_col(nc) + (F.lit(damping) * csum)

    def with_state(df, node_col):
        """Attach the carried sums (+ dq) to ``df`` keyed on
        ``node_col`` — the left join the rank expression reads."""
        if sums is None:
            return df
        j = df.join(hint(sums), F.col(node_col) == sums["s_node"],
                    "left").drop("s_node")
        if dangling == "redistribute":
            j = j.crossJoin(F.broadcast(dq))
        return j

    for _ in range(iters):
        rank = rank_expr(F.col("e_src"))
        share = (rank * F.col("frac") if weight_col is not None
                 else rank / F.col("outdeg"))
        contribs = (
            with_state(ed, "e_src")
            .select(F.col("e_dst"),
                    F.floor(share * F.lit(_QUANTUM))
                    .cast("long").alias("c")))
        new_sums = (contribs.groupBy("e_dst").agg(F.sum("c").alias("csum"))
                    .select(F.col("e_dst").alias("s_node"), "csum"))
        new_dq = None
        if dangling == "redistribute":
            # total dangling rank, quantized to the SAME integer
            # micro-units as the edge contributions — an exact,
            # order-independent 1-row aggregate that cross-joins
            # (broadcasts) into the next iteration's rank expression
            new_dq = (with_state(dang_nodes, "node")
                      .agg(F.coalesce(
                          F.sum(F.floor(rank_expr(F.col("node"))
                                        * F.lit(_QUANTUM))
                                .cast("long")), F.lit(0)).alias("dq")))
        sums = new_sums
        dq = new_dq

    ranks = (with_state(nodes, "node")
             .select("node", rank_expr(F.col("node")).alias("rank")))
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    out = ranks.withColumn("rank_pos", F.row_number().over(w))
    if dangling == "redistribute":
        return attach(out, ed, nodes, edges, dang_nodes)
    return attach(out, ed, nodes, edges)


def _pagerank_driver(ed, *, node_type, iters: int, damping: float,
                     n_nodes: int | None, dangling: str,
                     seeds: list | None, weighted: bool):
    """Driver-side numpy twin of the distributed PageRank loop.

    Bit-exactness contract (the distributed loop's, restated in numpy):
    contributions quantize to int64 micro-units
    (``floor(share · 1e12)``) and sum exactly (``np.add.at`` on int64 —
    order-independent like Spark's BIGINT sum); every float op is an
    elementwise IEEE double with the identical operand order
    (``base + (d · (csum/1e12))``, the redistribute/teleport variants
    likewise), so the ranks match the distributed path bit-for-bit —
    pinned by ``test_pagerank_driver_vs_distributed_parity``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = ed.sparkSession
    tbl = ed.toArrow()
    s_vals = tbl.column("e_src").to_pandas()
    d_vals = tbl.column("e_dst").to_pandas()
    codes, uniques = pd.factorize(
        pd.concat([s_vals, d_vals], ignore_index=True), sort=False)
    m = len(s_vals)
    si = codes[:m].astype(np.int64)
    di = codes[m:].astype(np.int64)
    n = len(uniques)
    if n_nodes is None:
        n_nodes = n
    init = 1.0 / n_nodes                   # same IEEE divide either path
    base = (1.0 - damping) / n_nodes
    if weighted:
        share_base = tbl.column("frac").to_numpy(zero_copy_only=False)
    else:
        share_base = tbl.column("outdeg").to_numpy(
            zero_copy_only=False).astype(np.float64)
    if seeds is not None:
        tshare = 1.0 / len(seeds)
        tele = np.where(pd.Index(uniques).isin(seeds), tshare, 0.0)
        base_vec = (1.0 - damping) * tele
        rank = tele.copy()
    else:
        base_vec = np.full(n, base)
        rank = np.full(n, init)
    if dangling == "redistribute":
        has_out = np.zeros(n, dtype=bool)
        has_out[si] = True
        dang = ~has_out
    for _ in range(iters):
        share = (rank[si] * share_base if weighted
                 else rank[si] / share_base)
        contrib = np.floor(share * _QUANTUM).astype(np.int64)
        csum = np.zeros(n, dtype=np.int64)
        np.add.at(csum, di, contrib)
        csum_t = csum.astype(np.float64) / _QUANTUM
        if dangling == "redistribute":
            dq = np.floor(rank[dang] * _QUANTUM).astype(np.int64).sum()
            dterm = np.float64(dq) / _QUANTUM
            dterm = (dterm * tele if seeds is not None
                     else dterm / float(n_nodes))
            rank = base_vec + (damping * (csum_t + dterm))
        else:
            rank = base_vec + (damping * csum_t)
    out_schema = StructType([StructField("node", node_type),
                             StructField("rank", DoubleType())])
    return spark.createDataFrame(
        pd.DataFrame({"node": uniques, "rank": rank}), out_schema)


def _hits_driver(e, *, node_type, iters: int, n_nodes: int | None):
    """Driver-side numpy twin of the distributed HITS loop — the
    :func:`_pagerank_driver` contract: int64-quantized contribution
    sums (order-independent), L1 totals as exact int64 sums, one
    elementwise IEEE divide per score, identical operand order."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = e.sparkSession
    tbl = e.toArrow()
    s_vals = tbl.column("e_src").to_pandas()
    d_vals = tbl.column("e_dst").to_pandas()
    codes, uniques = pd.factorize(
        pd.concat([s_vals, d_vals], ignore_index=True), sort=False)
    m = len(s_vals)
    si = codes[:m].astype(np.int64)
    di = codes[m:].astype(np.int64)
    n = len(uniques)
    if n_nodes is None:
        n_nodes = n
    init = 1.0 / n_nodes
    hub = np.full(n, init)
    auth = None
    for _ in range(iters):
        araw = np.zeros(n, dtype=np.int64)
        np.add.at(araw, di, np.floor(hub[si] * _QUANTUM).astype(np.int64))
        atot = araw.sum()          # == coalesce(sum over a_sums, 0)
        auth = araw.astype(np.float64) / np.float64(atot)
        hraw = np.zeros(n, dtype=np.int64)
        np.add.at(hraw, si, np.floor(auth[di] * _QUANTUM).astype(np.int64))
        htot = hraw.sum()
        hub = hraw.astype(np.float64) / np.float64(htot)
    out_schema = StructType([StructField("node", node_type),
                             StructField("hub", DoubleType()),
                             StructField("auth", DoubleType())])
    return spark.createDataFrame(
        pd.DataFrame({"node": uniques, "hub": hub, "auth": auth}),
        out_schema)


def hits(edges, *, src: str = "src", dst: str = "dst", iters: int = 5,
         n_nodes: int | None = None):
    """(node, hub, auth, auth_pos) after ``iters`` HITS iterations
    (Kleinberg 1999, "Authoritative sources in a hyperlinked
    environment") — the two-score companion to :func:`pagerank` for
    DIRECTED graphs: authorities are pointed-to by good hubs, hubs
    point to good authorities. The corpus-pipeline use is ranking a
    bipartite interaction graph from both sides at once (customers →
    suppliers, crawlers → sites, queries → documents) where a single
    PageRank score conflates the two roles.

    Per iteration (the synchronous mutual-recursion update, L1
    normalization each half-step so scores stay a distribution):
    ``auth(v) = Σ_{u→v} hub(u) / Σ`` then ``hub(u) = Σ_{u→v} auth(v)
    / Σ``. Plan shape: the edge table is persisted once and traversed
    twice per iteration (join on src for the authority pass, on dst
    for the hub pass), the |V|-row score tables broadcast under
    ``BROADCAST_NODES_LIMIT``, the per-iteration sum tables persist
    once each, and the L1 totals ride as 1-row broadcast crossJoins
    over those persisted sums — zero driver round-trips per iteration
    (see the in-loop comment; the persist is what makes the in-plan
    totals non-multiplicative, and the oracle's CROSS JOIN always had
    this shape).

    Strict-oracle float parity (the pagerank recipe): every
    contribution quantizes to integer micro-units
    (``floor(score·1e12)`` as BIGINT) before summing, so the sums are
    exact and partition-order-independent; normalization is ONE IEEE
    divide of two exact integers per row. A node with no out-edges
    has hub 0, no in-edges auth 0 — with ≥1 edge the totals stay
    positive (initial hub 1/N quantizes to ≥1 unit for N ≤ 1e12), so
    the divides never see zero.

    Under ``DRIVER_EDGES_LIMIT`` the mutual recursion runs as the driver
    kernel (HITS pays the per-iteration job cadence TWICE per round,
    plus a checkpoint job, so the saving is larger than pagerank's).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    edges = edges.persist()
    nodes = (edges.select(F.col(src).alias("node"))
             .union(edges.select(F.col(dst).alias("node")))
             .distinct().persist())
    # driver-kernel gate on the EXACT edge count (doubles as the
    # edge-cache fill; the distributed path's nodes.count() reads warm)
    if DRIVER_EDGES_LIMIT and edges.count() <= DRIVER_EDGES_LIMIT:
        out = _hits_driver(
            edges.select(F.col(src).alias("e_src"),
                         F.col(dst).alias("e_dst")),
            node_type=edges.schema[src].dataType,
            iters=iters, n_nodes=n_nodes)
        w = Window.orderBy(F.desc("auth"), F.asc("node"))
        out = out.withColumn("auth_pos", F.row_number().over(w))
        return attach(out, edges, nodes)
    if n_nodes is None:
        n_nodes = nodes.count()
    init = 1.0 / n_nodes
    small_v = n_nodes <= BROADCAST_NODES_LIMIT

    def hint(df):
        return F.broadcast(df) if small_v else df

    e = (edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
         .persist())

    hubs = nodes.select("node", F.lit(init).alias("hub"))
    auths = None
    prev_cache: list = []
    for _ in range(iters):
        # Materialization discipline — the part that makes the mutual
        # recursion affordable (unlike pagerank, whose two broadcasts
        # per iteration keep the uncut DAG cheap at shallow depth):
        # every Spark broadcast re-executes its upstream subtree, and
        # HITS consumes each |V|-row aggregate from MULTIPLE broadcast
        # positions, so un-persisted sums replayed ~9× per iteration
        # (measured 18-20 s at sf0.1/iters=5; the fully-uncut variant
        # OOM'd at iters=4 on a 15-NODE fuzz graph, 291 stages).
        # The shape that works: persist each sum table (computed once),
        # carry each half-step's 1-row L1 total as a broadcast
        # crossJoin over the PERSISTED sum table (so replaying the
        # total from any broadcast position re-reads the cache, never
        # the edge pass — the persist is what made the former in-plan
        # variant multiplicative; with it the totals cost nothing and
        # the loop pays ZERO driver round-trips, down from two
        # collect()s per iteration in the r9 shape, VERDICT-r10
        # task 3), and cut lineage once per iteration at the
        # checkpointed hub table the recursion carries forward.
        # 18.3 → 11.0 s min-of-3 at sf0.1/iters=5 for the r9
        # restructure; the total-fusion here took the iters=3 sf0.1
        # dedicated min-of-3 5.69 → 5.36 s same-session (each remaining
        # second is real work: two ~550k-row edge-pass aggregates per
        # iteration — structurally ~2× pagerank's one — plus the
        # checkpoint jobs). The BIGINT-column divide produces
        # bit-identical doubles to the former driver-literal divide
        # (same two exact integers either way — and the same CROSS
        # JOIN shape the DuckDB oracle always used in at{i}/ht{i}).
        a_sums = (
            e.join(hint(hubs), e["e_src"] == hubs["node"])
            .select(F.col("e_dst"),
                    F.floor(F.col("hub") * F.lit(_QUANTUM))
                    .cast("long").alias("c"))
            .groupBy("e_dst").agg(F.sum("c").alias("araw"))
            .persist())
        atot = a_sums.agg(F.coalesce(
            F.sum("araw"), F.lit(0)).cast("long").alias("_atot"))
        auths = (
            nodes.join(hint(a_sums), nodes["node"] == a_sums["e_dst"],
                       "left")
            .crossJoin(F.broadcast(atot))
            .select("node",
                    (F.coalesce(F.col("araw"), F.lit(0)).cast("double")
                     / F.col("_atot").cast("double")).alias("auth")))
        h_sums = (
            e.join(hint(auths), e["e_dst"] == auths["node"])
            .select(F.col("e_src"),
                    F.floor(F.col("auth") * F.lit(_QUANTUM))
                    .cast("long").alias("c"))
            .groupBy("e_src").agg(F.sum("c").alias("hraw"))
            .persist())
        htot = h_sums.agg(F.coalesce(
            F.sum("hraw"), F.lit(0)).cast("long").alias("_htot"))
        hubs = (
            nodes.join(hint(h_sums), nodes["node"] == h_sums["e_src"],
                       "left")
            .crossJoin(F.broadcast(htot))
            .select("node",
                    (F.coalesce(F.col("hraw"), F.lit(0)).cast("double")
                     / F.col("_htot").cast("double")).alias("hub"))
            .localCheckpoint(eager=True))
        # previous iterations' sums are now baked into the checkpoint;
        # the FINAL iteration's stay persisted (auths still reads
        # a_sums lazily) and release with the output via attach()
        for c in prev_cache:
            c.unpersist()
        prev_cache = [a_sums, h_sums]

    w = Window.orderBy(F.desc("auth"), F.asc("node"))
    out = (hubs.join(hint(auths), "node")
           .withColumn("auth_pos", F.row_number().over(w))
           .select("node", "hub", "auth", "auth_pos"))
    return attach(out, e, nodes, edges, *prev_cache)


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


def _triangles_driver(e, *, node_type):
    """Driver-side numpy twin of the degree-oriented wedge count —
    the :func:`_pagerank_driver` convention. Triangle counts are exact
    integers (order-independent), the clustering coefficient is the
    same two IEEE multiplies + one divide + the package floor rule in
    the identical operand order, so parity is bit-exact — pinned by
    ``test_triangles_driver_vs_distributed_parity``.

    Returns ``None`` when the ORIENTED wedge count exceeds
    ``DRIVER_WEDGE_LIMIT`` (Σ c·(c−1)/2 is O(m) to compute after
    orientation): the distributed join then streams that volume across
    tasks.
    A NaN node value also returns ``None``: Spark groups NaN as one
    node, the factorize below cannot.
    Wedges are enumerated in bounded chunks either way, so peak driver
    memory stays ~3 int64 arrays × chunk, never × total."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    spark = e.sparkSession
    tbl = e.toArrow()
    a_vals = tbl.column("a").to_pandas()
    b_vals = tbl.column("b").to_pandas()
    # sorted factorize: code order == value order, so the orientation
    # tie-break (a < b on VALUES) is a code comparison
    codes, uniques = pd.factorize(
        pd.concat([a_vals, b_vals], ignore_index=True), sort=True)
    if (codes == -1).any():
        # factorize codes NaN as -1, which bincount rejects; Spark
        # groups NaN as one ordinary node, so the distributed join does
        return None
    m = len(a_vals)
    ai = codes[:m].astype(np.int64)
    bi = codes[m:].astype(np.int64)
    n = len(uniques)
    deg = (np.bincount(ai, minlength=n)
           + np.bincount(bi, minlength=n)).astype(np.int64)
    # orient a→b when (deg, value) of a precedes (deg, value) of b —
    # identical CASE to the distributed orientation join
    a_first = (deg[ai] < deg[bi]) | ((deg[ai] == deg[bi]) & (ai < bi))
    u = np.where(a_first, ai, bi)
    v = np.where(a_first, bi, ai)
    # within-apex order (dv, v-value): the distributed wedge join's
    # strict (e1.dv, e1.v) < (e2.dv, e2.v) becomes position i < j
    order = np.lexsort((v, deg[v], u))
    u, v = u[order], v[order]
    grp_start = np.concatenate(
        ([True], u[1:] != u[:-1])) if m else np.empty(0, dtype=bool)
    # per-edge count of later same-apex edges = its wedge fan-out
    c = np.bincount(u, minlength=n)[u]
    pos = np.arange(m) - np.repeat(
        np.flatnonzero(grp_start), np.diff(np.concatenate(
            (np.flatnonzero(grp_start), [m]))))
    reps = c - 1 - pos
    total_wedges = int(reps.sum())
    if total_wedges > DRIVER_WEDGE_LIMIT:
        return None
    edge_keys = np.sort(u * n + v)
    tri_cnt = np.zeros(n, dtype=np.int64)
    # bounded-memory chunking over first-edges (each carries its whole
    # same-apex block, so any boundary is safe)
    budget = 20_000_000
    cuts = np.searchsorted(np.cumsum(reps), np.arange(
        budget, total_wedges, budget), side="left") + 1
    for lo, hi in zip([0, *cuts.tolist()], [*cuts.tolist(), m]):
        r = reps[lo:hi]
        if r.sum() == 0:
            continue
        first = np.repeat(np.arange(lo, hi), r)
        csum = np.concatenate(([0], np.cumsum(r)))
        offs = np.arange(int(r.sum())) - np.repeat(csum[:-1], r)
        second = first + 1 + offs
        y = v[first]
        z = v[second]
        probe = y * n + z
        idx = np.searchsorted(edge_keys, probe)
        idx[idx >= len(edge_keys)] = 0
        closed = edge_keys[idx] == probe
        if closed.any():
            tri_cnt += np.bincount(u[first][closed], minlength=n)
            tri_cnt += np.bincount(y[closed], minlength=n)
            tri_cnt += np.bincount(z[closed], minlength=n)
    degf = deg.astype(np.float64)
    trif = tri_cnt.astype(np.float64)
    # floor_round_col's exact IEEE ops in the distributed operand
    # order: (2.0 · T) / (d · (d−1)), then ·1e6 + 0.5, floor, /1e6
    with np.errstate(divide="ignore", invalid="ignore"):
        coeff = (2.0 * trif) / (degf * (degf - 1.0))
    clustering = np.where(
        deg >= 2, np.floor(coeff * 1e6 + 0.5) / 1e6, 0.0)
    out_schema = StructType([StructField("node", node_type),
                             StructField("degree", LongType()),
                             StructField("triangles", LongType()),
                             StructField("clustering", DoubleType())])
    return spark.createDataFrame(
        pd.DataFrame({"node": uniques, "degree": deg,
                      "triangles": tri_cnt, "clustering": clustering}),
        out_schema)


def triangle_count(edges, *, src: str = "src", dst: str = "dst",
                   n_nodes: int | None = None):
    """(node, degree, triangles, clustering) — exact per-node triangle
    counts and local clustering coefficient over an UNDIRECTED simple
    graph (self-loops and duplicate/reverse edges collapsed).

    The community-structure primitive beside :func:`pagerank` /
    :func:`hits`: triangle density separates genuinely clustered
    neighborhoods (co-purchase cliques, topical link farms, near-dup
    content rings) from hub-and-spoke noise, and the local clustering
    coefficient ``2T/(d(d-1))`` is the standard per-node form.

    Scale design — DEGREE-ORIENTED wedge generation (the MapReduce
    triangle algorithm of Suri & Vassilvitskii 2011, "Counting
    triangles and the curse of the last reducer"): every edge is
    directed from its lower-(degree, id) endpoint to the higher, so
    wedges are enumerated only at each triangle's LOWEST-degree vertex.
    Oriented out-degree is bounded by O(√m) regardless of skew, so the
    wedge join does O(m^{3/2}) work even when a celebrity node has
    degree ~n — the naive id-ordered join explodes quadratically on
    exactly those hubs ("the curse of the last reducer").

    Plan/materialization discipline: the canonical edge set, the
    oriented edge table, and the triangle corner list each persist
    ONCE — without that, the degree union re-derives the distinct
    twice and the three-corner union replays the (expensive) wedge
    join three times.  The |V|-row degree table broadcasts into the
    orientation join under ``BROADCAST_NODES_LIMIT`` (hits/pagerank
    convention), so the only shuffles left are the ones the algorithm
    owns: the edge distinct, the degree aggregation, the wedge
    self-join on the apex, the closure probe on the wedge pair, and
    the per-corner count. All counts are BIGINTs — exact on any
    partitioning — and the only float is the final clustering divide,
    quantized with the package floor rule, so the oracle is strict.

    Under ``DRIVER_EDGES_LIMIT`` (and ``DRIVER_WEDGE_LIMIT`` wedges) the
    whole orient/wedge/closure/count chain runs as the driver kernel
    over the collected canonical edge list; the distributed form pays
    ~8 fixed job/stage cadences for milliseconds of compute.
    """
    from ..functions.text import floor_round_col

    e = (edges.select(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct().persist())
    # driver-kernel gate on the EXACT canonical edge count (the
    # pagerank convention; the count doubles as the e cache fill the
    # degree union otherwise races). Unlike the iterative kernels this
    # one ALSO re-checks the true oriented wedge count before
    # committing (see _triangles_driver) — a None return falls through
    # to the unchanged distributed join with e's cache warm.
    if DRIVER_EDGES_LIMIT and e.count() <= DRIVER_EDGES_LIMIT:
        out = _triangles_driver(e, node_type=edges.schema[src].dataType)
        if out is not None:
            return attach(out, e)
    deg = (e.select(F.col("a").alias("node"))
           .union(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("degree"))
           .persist())
    # n_nodes: the pagerank/hits escape hatch — serving loops that know
    # |V| skip the broadcast-gate count job entirely
    if n_nodes is None:
        n_nodes = deg.count()
    small_v = n_nodes <= BROADCAST_NODES_LIMIT

    def hint(df):
        return F.broadcast(df) if small_v else df

    # orient a→b when (deg,id) of a precedes (deg,id) of b
    da, db = hint(deg).alias("da"), hint(deg).alias("db")
    o = (e.join(da, F.col("a") == F.col("da.node"))
         .join(db, F.col("b") == F.col("db.node"))
         .select(
             F.when((F.col("da.degree") < F.col("db.degree"))
                    | ((F.col("da.degree") == F.col("db.degree"))
                       & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v"),
                             F.col("db.degree").alias("dv")))
             .otherwise(
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v"),
                             F.col("da.degree").alias("dv"))).alias("s"))
         .select("s.u", "s.v", "s.dv"))
    # the oriented table is small in BYTES but the wedge self-join
    # below explodes it in ROWS, and with cached-plan coalescing its
    # persist materialized at 2 partitions — the whole O(m^{3/2})
    # wedge stage ran on 2 tasks (~0.5 s/task serial at sf0.1).
    # spread_partitions' estimate gate is useless here (a join-derived
    # plan reports an absurd size → treated LARGE → no-op), but the
    # operator holds an EXACT |V| from the broadcast-gate count — so
    # the spread rides the same small_v gate as every broadcast: an
    # explicit apex-keyed repartition AQE keeps (the e1⋈e2 self-join
    # then reads both sides co-partitioned by u straight from the
    # cache), skipped entirely past BROADCAST_NODES_LIMIT where the
    # oriented table is corpus-sized and owns its natural split.
    if small_v:
        o = o.repartition(
            edges.sparkSession.sparkContext.defaultParallelism,
            F.col("u"))
    o = o.persist()
    # wedges at the lowest-rank apex u: out-neighbors (v, w) ordered by
    # (deg, id); the closing edge, if present, is oriented v→w
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u"))
                & ((F.col("e1.dv") < F.col("e2.dv"))
                   | ((F.col("e1.dv") == F.col("e2.dv"))
                      & (F.col("e1.v") < F.col("e2.v")))))
        .join(e3, (F.col("e3.u") == F.col("e1.v"))
              & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("x"), F.col("e1.v").alias("y"),
                F.col("e2.v").alias("z"))
        .persist())
    # one explode, not a 3-branch union: the union read the persisted
    # corner list once PER CORNER (3 × tasks and a 3-way first-reader
    # race on the cache fill); the explode emits the same three corner
    # rows per triangle in a single pass (OPTIMIZATION_r11 Change 2)
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node").agg(F.count("*").alias("triangles")))
    out = (
        deg.join(hint(per_node), "node", "left")
        .select(
            "node", "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                floor_round_col(
                    (F.lit(2.0) * F.coalesce(F.col("triangles"), F.lit(0))
                     .cast("double"))
                    / (F.col("degree").cast("double")
                       * (F.col("degree") - F.lit(1)).cast("double"))))
            .otherwise(F.lit(0.0)).alias("clustering")))
    return attach(out, e, deg, o, tri)


def triangle_sql(edges_sql: str) -> str:
    """DuckDB SQL twin of :func:`triangle_count` (oracle).

    ``edges_sql`` must select columns (src, dst). The identical CTE
    chain: canonicalize, degree, (deg, id)-orient, wedge self-join,
    closure probe, per-corner union — BIGINT counts throughout, one
    floor-rounded IEEE divide for the coefficient. Wedge/closure CTEs
    are MATERIALIZED (each is referenced from multiple corners of the
    per-node union; see :func:`hits_sql` on DuckDB CTE inlining).
    """
    from ..functions.text import floor_round

    coeff = floor_round(
        "(2.0 * CAST(coalesce(t.triangles, 0) AS DOUBLE))"
        " / (CAST(deg.degree AS DOUBLE) * CAST(deg.degree - 1 AS DOUBLE))",
        6, "duckdb")
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


def _lpa_driver(und, *, node_type, iters: int):
    """Driver-side numpy twin of the distributed LPA loop. Nodes are
    factorized in SORTED order so label-index comparisons reproduce
    the (cnt DESC, community ASC) value tie-break exactly; counts are
    exact integers, so the rounds are deterministic on both paths."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    spark = und.sparkSession
    tbl = und.toArrow()
    a_vals = tbl.column("a").to_pandas()
    b_vals = tbl.column("b").to_pandas()
    codes, uniques = pd.factorize(
        pd.concat([a_vals, b_vals], ignore_index=True), sort=True)
    m = len(a_vals)
    ai = codes[:m].astype(np.int64)
    bi = codes[m:].astype(np.int64)
    n = len(uniques)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        # count per (a, neighbor-label); pick max count, ties to the
        # smallest label — index order == value order (sorted factorize)
        key = ai * n + lab[bi]
        uk, cnt = np.unique(key, return_counts=True)
        ua, ul = uk // n, uk % n
        order = np.lexsort((ul, -cnt, ua))
        ua_s, ul_s = ua[order], ul[order]
        first = np.empty(len(ua_s), dtype=bool)
        first[0] = True
        first[1:] = ua_s[1:] != ua_s[:-1]
        lab = lab.copy()
        lab[ua_s[first]] = ul_s[first]
    out_schema = StructType([StructField("node", node_type),
                             StructField("community", node_type)])
    return spark.createDataFrame(
        pd.DataFrame({"node": uniques, "community": uniques[lab]}),
        out_schema)


def label_propagation(edges, *, src: str = "src", dst: str = "dst",
                      iters: int = 3, n_nodes: int | None = None):
    """(node, community) after ``iters`` synchronous label-propagation
    rounds over the UNDIRECTED graph (Raghavan et al. 2007) — the
    community-detection companion to :func:`triangle_count`:
    near-linear-time partitioning of a content/interaction graph into
    densely connected groups (near-dup clusters, topical link
    neighborhoods), without the transitive over-merge of pure
    connected components (a single spurious edge merges two CC's;
    LPA needs a MAJORITY of neighbors to flip a node).

    DETERMINISTIC variant — vanilla LPA tie-breaks randomly and
    processes nodes in random order, which can never be strictly
    oracle-checked; this is the synchronous form with a total order on
    (count DESC, label ASC): every node simultaneously adopts its
    neighbors' most frequent label, ties to the smallest. Integer
    counts + a fixed tie order make every round partition-order-exact,
    so the unrolled DuckDB oracle is strict. Labels start as node ids.

    Scale: per round, one edge⋈labels join (labels broadcast under
    ``BROADCAST_NODES_LIMIT`` — the |V|-row table, same gate as
    :func:`hits`), one (node, label) count aggregation, one per-node
    window pick. The symmetrized edge table persists once; each
    round's label table localCheckpoints to cut the growing lineage
    (the HITS discipline — un-cut, the per-round broadcast replays
    every prior round's subtree).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a") != F.col("b")))
    und = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
           .distinct().persist())
    nodes = und.select(F.col("a").alias("node")).distinct().persist()
    # driver-kernel gate on the EXACT symmetrized edge count (the
    # pagerank convention; doubles as the und cache fill) — integer
    # counts + the (cnt DESC, label ASC) total order are exactly
    # reproducible in numpy, pinned by the parity pytest
    if DRIVER_EDGES_LIMIT and und.count() <= DRIVER_EDGES_LIMIT:
        out = _lpa_driver(und, node_type=edges.schema[src].dataType,
                          iters=iters)
        return attach(out, und, nodes)
    if n_nodes is None:
        n_nodes = nodes.count()
    small_v = n_nodes <= BROADCAST_NODES_LIMIT

    def hint(df):
        return F.broadcast(df) if small_v else df

    labels = nodes.select("node", F.col("node").alias("community"))
    w = Window.partitionBy("a").orderBy(
        F.desc("cnt"), F.asc("community"))
    for _ in range(iters):
        neigh = (und.join(hint(labels),
                          und["b"] == labels["node"])
                 .groupBy("a", "community")
                 .agg(F.count("*").alias("cnt")))
        labels = (neigh.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1)
                  .select(F.col("a").alias("node"), "community")
                  .localCheckpoint(eager=True))
    out = (nodes.join(hint(labels), "node", "left")
           .select(nodes["node"],
                   F.coalesce(F.col("community"),
                              nodes["node"]).alias("community")))
    return attach(out, und, nodes)


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


def _bfs_driver(e, seeds, *, node_type, max_hops: int):
    """Driver-side numpy twin of the frontier expansion — min-hop
    levels are small exact integers, so parity is by construction."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = e.sparkSession
    tbl = e.toArrow()
    s_vals = tbl.column("e_src").to_pandas()
    d_vals = tbl.column("e_dst").to_pandas()
    codes, uniques = pd.factorize(
        pd.concat([s_vals, d_vals], ignore_index=True), sort=False)
    m = len(s_vals)
    si = codes[:m].astype(np.int64)
    di = codes[m:].astype(np.int64)
    n = len(uniques)
    idx_of = pd.Index(uniques)
    seed_pos = idx_of.get_indexer(pd.Index(seeds))
    visited = np.zeros(n, dtype=bool)
    frontier = seed_pos[seed_pos >= 0]
    visited[frontier] = True
    rows = [(s, 0) for s in seeds]
    in_frontier = np.zeros(n, dtype=bool)
    for hop in range(1, max_hops + 1):
        if len(frontier) == 0:
            break
        in_frontier[:] = False
        in_frontier[frontier] = True
        reached = np.unique(di[in_frontier[si]])
        nxt = reached[~visited[reached]]
        if len(nxt) == 0:
            break
        visited[nxt] = True
        rows.extend((v, hop) for v in uniques[nxt].tolist())
        frontier = nxt
    out_schema = StructType([StructField("node", node_type),
                             StructField("hops", IntegerType())])
    return spark.createDataFrame(rows, out_schema)


def bfs_levels(edges, seeds, *, src: str = "src", dst: str = "dst",
               max_hops: int = 3):
    """(node, hops) — every node reachable from ``seeds`` within
    ``max_hops`` directed hops, labeled with its MINIMUM hop distance.

    The graph-expansion primitive between single-node lookup and full
    PageRank: crawl-frontier radius ("everything within 3 clicks of
    these pages"), contamination blast-radius over a derivation graph,
    related-entity candidate generation before a ranked pass. Strictly
    oracle-checkable by construction — distances are small integers
    and min() is order-independent on any partitioning.

    Scale: classic synchronous frontier expansion — per hop, ONE join
    of the CURRENT frontier (only nodes first reached last round, not
    the cumulative visited set) against the persisted edge table, one
    anti-join against the visited set to drop re-reached nodes, and a
    distinct. The visited set broadcasts under
    ``BROADCAST_NODES_LIMIT`` (the |V|-bounded gate the rest of the
    family uses); the frontier itself is usually far smaller. Each
    hop's frontier localCheckpoints — the cumulative plan would
    otherwise re-derive every prior frontier per reference (the HITS
    lineage lesson).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    seeds = list(seeds)
    if not seeds:
        raise ValueError("seeds must be a non-empty list")
    if len(set(seeds)) != len(seeds):
        raise ValueError(f"duplicate seeds: {seeds}")
    spark = edges.sparkSession
    e = (edges.select(F.col(src).alias("e_src"),
                      F.col(dst).alias("e_dst"))
         .distinct().persist())
    # driver-kernel gate on the EXACT distinct edge count (the
    # pagerank convention; doubles as the e cache fill) — min-hop
    # levels are exact small integers, parity pinned in pytest
    if DRIVER_EDGES_LIMIT and e.count() <= DRIVER_EDGES_LIMIT:
        out = _bfs_driver(e, seeds, node_type=edges.schema[dst].dataType,
                          max_hops=max_hops)
        return attach(out, e)
    n_visited = len(seeds)

    def hint(df):
        # the frontier/visited tables are join-derived (no size stats),
        # so Catalyst would plan SortMergeJoins shuffling |E| per hop;
        # broadcast while the EXACT running count — free, each hop's
        # frontier is already materialized by its checkpoint — stays
        # under the gate, fall back to the scale-safe shuffle join past
        # it (billion-node frontiers are distributed state)
        return (F.broadcast(df) if n_visited <= BROADCAST_NODES_LIMIT
                else df)

    # the seed frame's node type derives from the edge dst column, so
    # string/typed node ids work like everywhere else in the graph
    # family (the old hard-coded 'node long' raised on non-int seeds)
    from pyspark.sql.types import IntegerType, StructField, StructType

    node_type = edges.schema[dst].dataType
    visited = spark.createDataFrame(
        [(s, 0) for s in seeds],
        StructType([StructField("node", node_type),
                    StructField("hops", IntegerType())]))
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        reached = (e.join(hint(frontier),
                          e["e_src"] == frontier["node"])
                   .select(F.col("e_dst").alias("r_node"))
                   .distinct())
        nxt = (reached
               .join(hint(visited.select(F.col("node").alias("v_node"))),
                     F.col("r_node") == F.col("v_node"), "left_anti")
               .select(F.col("r_node").alias("node"))
               .localCheckpoint(eager=True))
        n_new = nxt.count()
        if not n_new:
            break
        n_visited += n_new
        visited = visited.union(
            nxt.select("node", F.lit(hop).alias("hops")))
        frontier = nxt
    return attach(visited, e)


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


def _k_core_driver(und, *, node_type, k: int, max_rounds: int):
    """Driver-side numpy twin of the iterative peel — degrees are
    exact integers and the synchronous survivor set is unique, so
    parity is by construction. Mirrors the distributed loop's exact
    control flow (count-based convergence probe, ≤ max_rounds)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    spark = und.sparkSession
    tbl = und.toArrow()
    a_vals = tbl.column("a").to_pandas()
    b_vals = tbl.column("b").to_pandas()
    codes, uniques = pd.factorize(
        pd.concat([a_vals, b_vals], ignore_index=True), sort=False)
    m = len(a_vals)
    ai = codes[:m].astype(np.int64)
    bi = codes[m:].astype(np.int64)
    n = len(uniques)
    alive = np.ones(m, dtype=bool)
    prev = None
    for _ in range(max_rounds):
        deg = np.bincount(ai[alive], minlength=n)
        surv = deg >= k
        n_surv = int(surv.sum())
        if n_surv == prev:
            break
        prev = n_surv
        alive &= surv[ai] & surv[bi]
        if n_surv == 0:
            break
    deg = np.bincount(ai[alive], minlength=n)
    keep = deg > 0
    out_schema = StructType([StructField("node", node_type),
                             StructField("degree", LongType())])
    return spark.createDataFrame(
        pd.DataFrame({"node": pd.Index(uniques)[keep],
                      "degree": deg[keep].astype(np.int64)}),
        out_schema)


def k_core(edges, *, src: str = "src", dst: str = "dst", k: int,
           max_rounds: int = 6):
    """(node, degree) of the graph's k-CORE — the maximal subgraph in
    which every node keeps ≥ k neighbors (Seidman 1983) — by the
    classic iterative peel: drop all nodes of degree < k, recompute
    degrees in what remains (peeling a node can drag its neighbors
    below k), repeat. The density primitive the family lacked:
    PageRank ranks, LPA groups, triangles count closure — the k-core
    isolates the cohesive kernel (spam-link farms, power-user cliques,
    the well-connected region worth the expensive downstream pass).

    Bounded semantics like :func:`bfs_levels`'s ``max_hops``: AT MOST
    ``max_rounds`` peels (each round is one degree aggregation, so a
    pathological chain could otherwise loop O(|V|) times — a 10^9-node
    path graph would mean 10^9 shuffles). The peel early-exits the
    moment a round removes nothing, at which point the result IS the
    exact k-core — extra rounds are no-ops, which is also why the
    fixed-``max_rounds`` DuckDB oracle matches regardless of where the
    early exit fired. Deterministic by construction: the surviving set
    of each synchronous round is unique (no tie-breaks), degrees are
    integers.

    Scale: the symmetrized edge table persists once; per round, ONE
    degree aggregation over the current edge set + two semi-joins
    against the |V|-bounded survivor table (broadcast under
    ``BROADCAST_NODES_LIMIT``, the family gate), localCheckpointed to
    cut the per-round lineage (the HITS discipline). Early exit costs
    one scalar count per round — the same driver probe as
    :func:`bfs_levels`.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a") != F.col("b")))
    und = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
           .distinct().persist())
    # driver-kernel gate on the EXACT symmetrized edge count (the
    # pagerank convention; doubles as the und cache fill)
    if DRIVER_EDGES_LIMIT and und.count() <= DRIVER_EDGES_LIMIT:
        out = _k_core_driver(und, node_type=edges.schema[src].dataType,
                             k=k, max_rounds=max_rounds)
        return attach(out, und)
    cur = und
    n_nodes = None
    for _ in range(max_rounds):
        surv = (cur.groupBy("a").agg(F.count("*").alias("_deg"))
                .where(F.col("_deg") >= k)
                .select(F.col("a").alias("node"))
                .localCheckpoint(eager=True))
        n_surv = surv.count()
        if n_surv == n_nodes:
            break
        n_nodes = n_surv
        hint = (F.broadcast(surv) if n_surv <= BROADCAST_NODES_LIMIT
                else surv)
        cur = (cur.join(hint, cur["a"] == surv["node"], "left_semi")
               .join(hint, cur["b"] == surv["node"], "left_semi")
               .localCheckpoint(eager=True))
        if n_surv == 0:
            break
    out = (cur.groupBy("a")
           .agg(F.count("*").alias("degree"))
           .select(F.col("a").alias("node"), "degree"))
    return attach(out, und)


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
