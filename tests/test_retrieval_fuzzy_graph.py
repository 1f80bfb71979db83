"""Unit tests for the round-5 additions: BM25 retrieval, blocked fuzzy
matching, and fixed-iteration PageRank (semantics + determinism; engine
parity is covered by the strict DuckDB oracles in __spark_entry__)."""

import math

import pytest
from pyspark.sql import functions as F

from flink_sql_security_spark.operators import graph
from flink_sql_security_spark.operators.cache import release
from flink_sql_security_spark.operators.fuzzy import fuzzy_name_pairs
from flink_sql_security_spark.operators.graph import pagerank
from oracles.graph import pagerank_sql
from flink_sql_security_spark.operators.retrieval import bm25_topk


# ---------------------------------------------------------------- bm25

def _docs(spark):
    rows = [
        (1, "vector vector vector search index"),
        (2, "vector search"),
        (3, "stream processing stream"),
        (4, "totally unrelated words here"),
        (5, "vector stream hash hash"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_covers_and_ranks(spark):
    out = bm25_topk(_docs(spark), ["vector", "stream", "hash"], k=10)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 4 has no query term: no partial scores -> excluded? No: it HAS
    # no tf rows at all, so it never reaches the score fold and is absent
    assert 4 not in rows
    # doc 5 matches all three terms -> highest total score
    assert min(rows, key=lambda d: rows[d]["rank"]) == 5
    # per-term columns exist and doc 3's vector-score is NULL
    assert rows[3]["s_vector"] is None and rows[3]["s_stream"] > 0
    # ranks are dense 1..n
    assert sorted(r["rank"] for r in rows.values()) == [1, 2, 3, 4]


def test_bm25_tf_saturation(spark):
    """3x the term occurrences must score higher but < 3x higher (k1 cap)."""
    out = bm25_topk(_docs(spark), ["vector"], k=10)
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    assert rows[1] > rows[2]
    assert rows[1] < 3 * rows[2]


def test_bm25_validates_terms(spark):
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk(_docs(spark), [])
    with pytest.raises(ValueError, match="duplicate"):
        bm25_topk(_docs(spark), ["a", "a"])


def test_bm25_presupplied_stats_match(spark):
    df = _docs(spark)
    auto = bm25_topk(df, ["vector", "hash"], k=10).collect()
    n = df.count()
    total = df.select(F.sum(F.size(F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"),
        lambda t: t != "")))).collect()[0][0]
    manual = bm25_topk(df, ["vector", "hash"], k=10,
                       stats=(n, total / n)).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, manual))


# ----------------------------------------------- bm25 inverted index

def test_bm25_indexed_matches_scan_bitwise(spark):
    """The index path's contract: same (id, dl, per-term, score, rank)
    rows as the per-call scan — bit-for-bit, since both feed the shared
    score tail; one oracle therefore checks both."""
    from flink_sql_security_spark.operators.retrieval import (
        bm25_build_index, bm25_topk_indexed)

    df = _docs(spark)
    terms = ["vector", "stream", "hash"]
    postings, stats = bm25_build_index(df)
    scan = bm25_topk(df, terms, k=10).collect()
    probe = bm25_topk_indexed(postings, stats, terms, k=10).collect()
    assert sorted(map(tuple, scan)) == sorted(map(tuple, probe))
    assert len(scan) > 0


def test_bm25_index_artifact_shape(spark):
    """Postings are one row per distinct (doc, token), no empty-string
    artifacts, dl denormalized; stats match the scan path's exact
    integer aggregates."""
    from flink_sql_security_spark.operators.retrieval import (
        bm25_build_index)

    postings, (n_docs, avgdl) = bm25_build_index(_docs(spark))
    rows = postings.collect()
    assert all(r["token"] != "" for r in rows)
    assert len({(r["doc_id"], r["token"]) for r in rows}) == len(rows)
    # doc 1: "vector vector vector search index" -> tf(vector)=3, dl=5
    by = {(r["doc_id"], r["token"]): r for r in rows}
    assert by[(1, "vector")]["tf"] == 3 and by[(1, "vector")]["dl"] == 5
    assert n_docs == 5
    assert avgdl == pytest.approx((5 + 2 + 3 + 4 + 4) / 5)


def test_bm25_indexed_roundtrips_parquet(spark, tmp_path):
    """The probe-many production shape: postings written to parquet
    (sorted within partitions by token so row-group stats prune the
    term filter), read back cold, probed — identical answer."""
    from flink_sql_security_spark.operators.retrieval import (
        bm25_build_index, bm25_topk_indexed)

    df = _docs(spark)
    postings, stats = bm25_build_index(df)
    path = str(tmp_path / "postings.parquet")
    postings.sortWithinPartitions("token").write.parquet(path)
    cold = spark.read.parquet(path)
    direct = bm25_topk_indexed(postings, stats, ["vector", "hash"],
                               k=10).collect()
    reread = bm25_topk_indexed(cold, stats, ["vector", "hash"],
                               k=10).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, reread))


def test_fuzz_bm25_indexed_configs_cross_engine(spark):
    """Config fuzz over the index path: random term sets (drawn from
    the real corpus vocabulary) and k, each trial checked BOTH ways —
    indexed ≡ scan bitwise, and indexed value-exact vs the DuckDB
    oracle. Seed base 14141."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.retrieval import bm25_build_index, bm25_topk, bm25_topk_indexed
    from oracles.retrieval import bm25_topk_sql

    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    pool = ["scan", "column", "window", "order", "join", "merge",
            "query", "vector", "hash", "stream", "filter", "data"]
    postings, stats = bm25_build_index(docs)
    postings = postings.persist()
    rng = random.Random(14141)
    for trial in range(4):
        terms = rng.sample(pool, rng.choice([1, 2, 4]))
        k = rng.choice([5, 20, 50])
        cfg = (trial, terms, k)
        probe = sorted(map(tuple, bm25_topk_indexed(
            postings, stats, terms, k=k).collect()))
        scan = sorted(map(tuple, bm25_topk(docs, terms, k=k).collect()))
        want = sorted(map(tuple, con.execute(
            bm25_topk_sql(terms, k=k)).fetchall()))
        assert probe == scan == want and len(probe) > 0, cfg
    postings.unpersist()
    con.close()


def test_bm25_indexed_validates_terms(spark):
    from flink_sql_security_spark.operators.retrieval import (
        bm25_build_index, bm25_topk_indexed)

    postings, stats = bm25_build_index(_docs(spark))
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk_indexed(postings, stats, [])
    with pytest.raises(ValueError, match="duplicate"):
        bm25_topk_indexed(postings, stats, ["a", "a"])


# ---------------------------------------------------------------- hits

def _hits_edges(spark):
    # 1 points at both targets (best hub); 10 is pointed at by three
    # hubs (best authority); 4 -> 11 is a weak hub
    rows = [(1, 10), (2, 10), (3, 10), (1, 11), (4, 11)]
    return spark.createDataFrame(rows, ["src", "dst"])


def test_hits_golden_roles(spark):
    from flink_sql_security_spark.operators.graph import hits

    out = {r["node"]: r for r in hits(_hits_edges(spark),
                                      iters=3).collect()}
    # authorities: only targets have in-edges; 10 beats 11
    assert out[10]["auth_pos"] == 1 and out[11]["auth_pos"] == 2
    assert out[10]["auth"] > out[11]["auth"] > 0
    assert all(out[n]["auth"] == 0.0 for n in (1, 2, 3, 4))
    # hubs: only sources have out-edges; 1 (points at both) is top
    hubs = sorted(((r["hub"], n) for n, r in out.items()), reverse=True)
    assert hubs[0][1] == 1
    assert all(out[n]["hub"] == 0.0 for n in (10, 11))
    # L1 normalization: each score family sums to ~1
    assert abs(sum(r["auth"] for r in out.values()) - 1.0) < 1e-9
    assert abs(sum(r["hub"] for r in out.values()) - 1.0) < 1e-9


def test_hits_partitioning_invariant(spark):
    """The quantized-integer recipe's contract: identical doubles under
    any physical layout of the edge table."""
    from flink_sql_security_spark.operators.graph import hits

    edges = _hits_edges(spark)
    a = sorted(map(tuple, hits(edges, iters=4).collect()))
    b = sorted(map(tuple, hits(edges.repartition(7, "dst"),
                               iters=4).collect()))
    assert a == b


def test_hits_regular_graph_is_uniform(spark):
    """On a directed cycle (every node indeg = outdeg = 1) the mutual
    recursion's fixed point is uniform from iteration one: auth = hub
    = 1/N for every node, BIT-exactly (equal integer contributions →
    equal exact divides)."""
    from flink_sql_security_spark.operators.graph import hits

    n = 7
    cycle = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], ["src", "dst"])
    for r in hits(cycle, iters=3).collect():
        assert r["auth"] == 1.0 / n and r["hub"] == 1.0 / n, r


def test_hits_validates_iters(spark):
    from flink_sql_security_spark.operators.graph import hits
    from oracles.graph import hits_sql

    with pytest.raises(ValueError, match="iters"):
        hits(_hits_edges(spark), iters=0)
    with pytest.raises(ValueError, match="iters"):
        hits_sql("SELECT 1 AS src, 2 AS dst", iters=0)


def test_fuzz_hits_configs_cross_engine(spark):
    """Config fuzz over HITS: random directed graphs (size, density,
    iteration count), each bit-equal vs the unrolled DuckDB oracle.
    Seed base 16161."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.graph import hits
    from oracles.graph import hits_sql

    con = duckdb.connect()
    rng = random.Random(16161)
    for trial in range(4):
        n = rng.choice([4, 9, 15])
        m = rng.choice([5, 12, 25])
        iters = rng.choice([1, 2, 4])
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(m)})
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        cfg = (trial, n, m, iters)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted(map(tuple, hits(df, iters=iters).collect()))
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        want = sorted(map(tuple, con.execute(hits_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst)",
            iters=iters)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ----------------------------------------------------- personalized pr

def test_ppr_mass_decays_from_seed(spark):
    """On a directed path 1→2→3→4→5 with seeds=[1], rank decays with
    distance from the seed, the seed holds its (1-d)·1 teleport floor,
    and off-path teleport mass is zero (node 5 receives only flow)."""
    from flink_sql_security_spark.operators.graph import pagerank

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], ["src", "dst"])
    out = {r["node"]: r["rank"] for r in pagerank(
        path, iters=6, seeds=[1]).collect()}
    assert out[1] >= 0.15 - 1e-12          # (1-d)·tele = 0.15 floor
    assert out[2] > out[3] > out[4] > out[5] > 0
    assert out[2] < out[1] + 1e-12 or out[2] > 0  # sanity: finite


def test_ppr_all_seeds_close_to_uniform_pagerank(spark):
    """seeds = every node ≡ uniform teleport: ranks match the standard
    run to within an ulp-scale tolerance (the two paths fold
    (1-d)/N vs (1-d)·(1/N) — same value, different op order)."""
    from flink_sql_security_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (1, 11), (4, 11), (10, 1)],
        ["src", "dst"])
    nodes = [1, 2, 3, 4, 10, 11]
    uni = {r["node"]: r["rank"]
           for r in pagerank(edges, iters=4).collect()}
    ppr = {r["node"]: r["rank"]
           for r in pagerank(edges, iters=4, seeds=nodes).collect()}
    assert set(uni) == set(ppr)
    for n in uni:
        assert abs(uni[n] - ppr[n]) < 1e-12, (n, uni[n], ppr[n])


def test_ppr_validates_seeds(spark):
    from flink_sql_security_spark.operators.graph import pagerank
    from oracles.graph import pagerank_sql

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="non-empty"):
        pagerank(df, seeds=[])
    with pytest.raises(ValueError, match="duplicate"):
        pagerank(df, seeds=[1, 1])
    with pytest.raises(ValueError, match="non-empty"):
        pagerank_sql("SELECT 1 AS src, 2 AS dst", seeds=[])
    with pytest.raises(ValueError, match="duplicate"):
        pagerank_sql("SELECT 1 AS src, 2 AS dst", seeds=[2, 2])


def test_fuzz_ppr_configs_cross_engine(spark):
    """Config fuzz for personalized PageRank: random graphs, seed
    sets, iteration counts, damping and dangling draws — each
    bit-equal Spark vs DuckDB. Seed base 17171."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.graph import pagerank
    from oracles.graph import pagerank_sql

    con = duckdb.connect()
    rng = random.Random(17171)
    for trial in range(4):
        n = rng.randint(5, 12)
        m = rng.randint(n, 3 * n)
        edges = sorted({(rng.randint(1, n), rng.randint(1, n))
                        for _ in range(m)})
        edges = [(a, b) for a, b in edges if a != b] or [(1, 2)]
        iters = rng.randint(1, 5)
        damping = rng.choice([0.85, 0.5, 0.99])
        dangling = rng.choice(["leak", "redistribute"])
        n_seeds = rng.randint(1, max(1, n // 2))
        seeds = sorted(rng.sample(range(1, n + 1), n_seeds))
        cfg = (trial, len(edges), iters, damping, dangling, seeds)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted(map(tuple, pagerank(
            df, iters=iters, damping=damping, dangling=dangling,
            seeds=seeds).collect()))
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        want = sorted(map(tuple, con.execute(pagerank_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst)",
            iters=iters, damping=damping, dangling=dangling,
            seeds=seeds)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# --------------------------------------------------------------- fuzzy

def test_fuzzy_blocks_and_verifies(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamm"),     # dist 1, same block 'alpha'
        (3, "alpha completely different"),  # same block, far
        (4, "beta alpha gamma"),    # block 'beta': never compared to 1/2
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = fuzzy_name_pairs(df, id_col="id", name_col="name", max_dist=3)
    got = {(r["a_id"], r["b_id"]): r["dist"] for r in out.collect()}
    assert got == {(1, 2): 1}


def test_fuzzy_cross_block_pairs_are_missed(spark):
    """Executable recall caveat: identical names in different blocks are
    never compared — the documented blocking trade-off."""
    rows = [(1, "x same tail"), (2, "y same tail")]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = fuzzy_name_pairs(df, id_col="id", name_col="name", max_dist=100)
    assert out.count() == 0


def test_fuzzy_canonical_order(spark):
    rows = [(9, "a b"), (3, "a b"), (5, "a b")]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = fuzzy_name_pairs(df, id_col="id", name_col="name", max_dist=0)
    pairs = sorted((r["a_id"], r["b_id"]) for r in out.collect())
    assert pairs == [(3, 5), (3, 9), (5, 9)]
    assert all(a < b for a, b in pairs)


# ------------------------------------------------------------ pagerank

def _star_edges(spark):
    """Undirected star: hub 0 <-> leaves 1..4."""
    pairs = [(0, i) for i in range(1, 5)]
    rows = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, ["src", "dst"])


def test_pagerank_star_hub_wins(spark):
    out = pagerank(_star_edges(spark), iters=5)
    rows = {r["node"]: r for r in out.collect()}
    release(out)
    assert rows[0]["rank_pos"] == 1
    # leaves are symmetric: identical ranks, positions tie-broken by node
    leaf_ranks = {rows[i]["rank"] for i in range(1, 5)}
    assert len(leaf_ranks) == 1
    assert [rows[i]["rank_pos"] for i in range(1, 5)] == [2, 3, 4, 5]


def test_pagerank_mass_conserved_on_symmetric_graph(spark):
    out = pagerank(_star_edges(spark), iters=5)
    total = sum(r["rank"] for r in out.collect())
    release(out)
    # quantization floor leaks < 1e-12 per edge per iteration
    assert math.isclose(total, 1.0, abs_tol=1e-9)


def test_pagerank_partitioning_invariant(spark):
    """The quantized-contribution design promise: identical bits under a
    different physical partitioning of the edge set."""
    edges = _star_edges(spark)
    a = pagerank(edges, iters=3)
    b = pagerank(edges.repartition(7), iters=3)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    release(a)
    release(b)
    assert ra == rb  # exact equality, including the float rank column


def test_pagerank_validates_iters(spark):
    with pytest.raises(ValueError, match="iters"):
        pagerank(_star_edges(spark), iters=0)
    with pytest.raises(ValueError, match="iters"):
        pagerank_sql("SELECT 1 AS src, 2 AS dst", iters=0)


def test_pagerank_dangling_mass_leaks(spark):
    """Directed chain 1->2->3: node 3 has no out-edges, so total rank
    drops below 1 — the documented dangling-node behavior."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = pagerank(edges, iters=5)
    rows = {r["node"]: r["rank"] for r in out.collect()}
    release(out)
    assert sum(rows.values()) < 0.99
    assert rows[3] > rows[2] > rows[1]  # rank accumulates down the chain


def test_pagerank_redistribute_conserves_mass_and_matches_oracle(spark):
    """dangling='redistribute': the standard treatment — dangling mass
    returns uniformly each iteration, ranks keep summing to 1, and the
    quantized dangling sum keeps the option strictly oracle-checkable
    (bit-equal Spark vs DuckDB on a graph WITH dangling nodes)."""
    import duckdb

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 1)], ["src", "dst"])
    out = pagerank(edges, iters=5, dangling="redistribute")
    got = sorted(map(tuple, out.collect()))
    release(out)
    total = sum(r[1] for r in got)
    assert math.isclose(total, 1.0, abs_tol=1e-9), total

    sql = pagerank_sql(
        "SELECT * FROM (VALUES (1, 2), (2, 3), (1, 3), (4, 1)) "
        "AS t(src, dst)", iters=5, dangling="redistribute")
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want  # exact, including the float rank column

    # leak on the same graph loses node 3's mass — redistribute is a
    # genuinely different (and normalized) fixed point
    leaked = pagerank(edges, iters=5)
    ltot = sum(r["rank"] for r in leaked.collect())
    release(leaked)
    assert ltot < 0.9


def test_pagerank_redistribute_partitioning_invariant(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 1)], ["src", "dst"])
    a = pagerank(edges, iters=3, dangling="redistribute")
    b = pagerank(edges.repartition(5), iters=3, dangling="redistribute")
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    release(a)
    release(b)
    assert ra == rb


def test_pagerank_validates_dangling_option(spark):
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, dangling="drop")
    with pytest.raises(ValueError, match="dangling"):
        pagerank_sql("SELECT 1 AS src, 2 AS dst", dangling="drop")


# ---------------------------------------------------------------------------
# MMR diversity re-ranking
# ---------------------------------------------------------------------------

EMB_PATH = "/root/testdata/sf0.001/embeddings.parquet"


def test_mmr_cross_engine_exact(spark):
    import duckdb

    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from oracles.retrieval import mmr_rerank_duckdb_sql

    emb = spark.read.parquet(EMB_PATH)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{EMB_PATH}')")
    got = sorted(map(tuple, mmr_rerank(
        emb, emb.where("vec_id < 5"), k=4, shortlist=10,
        lam=0.7).collect()))
    want = sorted(map(tuple, con.execute(mmr_rerank_duckdb_sql(
        query_pred="vec_id < 5", k=4, shortlist=10,
        lam=0.7)).fetchall()))
    con.close()
    assert got == want and len(got) == 5 * 4


def test_mmr_first_pick_is_most_relevant(spark):
    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from flink_sql_security_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(EMB_PATH)
    q = emb.where("vec_id < 5")
    top1 = {r["q_id"]: r["n_id"]
            for r in cosine_topk(emb, q, k=1).collect()}
    first = {r["q_id"]: r["n_id"]
             for r in mmr_rerank(emb, q, k=3, shortlist=10).collect()
             if r["sel_pos"] == 1}
    assert first == top1


def test_mmr_lambda_one_recovers_relevance_order(spark):
    """lam=1 disables the diversity term: MMR == plain top-k order."""
    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from flink_sql_security_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(EMB_PATH)
    q = emb.where("vec_id < 5")
    plain = sorted((r["q_id"], r["rank"], r["n_id"])
                   for r in cosine_topk(emb, q, k=4).collect())
    mmr = sorted((r["q_id"], r["sel_pos"], r["n_id"])
                 for r in mmr_rerank(emb, q, k=4, shortlist=10,
                                     lam=1.0).collect())
    assert mmr == plain


def test_mmr_diversifies(spark):
    """At lam<1 the selected set must differ from plain top-k for at
    least one query — the diversity term actually engages."""
    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from flink_sql_security_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(EMB_PATH)
    q = emb.where("vec_id < 8")
    plain = {(r["q_id"], r["n_id"])
             for r in cosine_topk(emb, q, k=4).collect()}
    mmr = {(r["q_id"], r["n_id"])
           for r in mmr_rerank(emb, q, k=4, shortlist=16,
                               lam=0.5).collect()}
    assert mmr != plain


def test_mmr_unique_selections_per_query(spark):
    from flink_sql_security_spark.operators.retrieval import mmr_rerank

    emb = spark.read.parquet(EMB_PATH)
    rows = mmr_rerank(emb, emb.where("vec_id < 5"), k=4,
                      shortlist=10).collect()
    seen = {}
    for r in rows:
        assert r["n_id"] != r["q_id"]
        key = (r["q_id"], r["n_id"])
        assert key not in seen
        seen[key] = True
        assert 1 <= r["sel_pos"] <= 4


def test_fuzz_mmr_configs_cross_engine(spark):
    """Config fuzz for MMR: random (k, shortlist, lam, n_q) draws, each
    verified value-exact against the DuckDB oracle. Deterministic
    seeds — rotate the seed base alongside the SQL fuzz bursts."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from oracles.retrieval import mmr_rerank_duckdb_sql

    emb = spark.read.parquet(EMB_PATH)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{EMB_PATH}')")
    rng = random.Random(52525)
    try:
        for trial in range(4):
            k = rng.randint(2, 6)
            shortlist = rng.randint(k, 4 * k)
            lam = rng.choice([0.0, 0.3, 0.5, 0.7, 0.9, 1.0])
            n_q = rng.choice([3, 5, 7])
            got = sorted(map(tuple, mmr_rerank(
                emb, emb.where(f"vec_id < {n_q}"), k=k,
                shortlist=shortlist, lam=lam).collect()))
            want = sorted(map(tuple, con.execute(mmr_rerank_duckdb_sql(
                query_pred=f"vec_id < {n_q}", k=k, shortlist=shortlist,
                lam=lam)).fetchall()))
            cfg = (trial, k, shortlist, lam, n_q)
            assert got == want and len(got) == n_q * min(k, shortlist), cfg
    finally:
        con.close()


def test_mmr_short_corpus_and_shortlist_smaller_than_k(spark):
    """Degenerate shapes: fewer candidates than k (tiny corpus, or
    shortlist < k) must yield min(k, candidates) rows per query, still
    cross-engine exact."""
    import duckdb

    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from oracles.retrieval import mmr_rerank_duckdb_sql

    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
            for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, {v})" for i, v in rows)
                + ") AS t(vec_id, embedding)")
    # corpus of 4, self excluded -> only 3 candidates; ask k=5
    got = sorted(map(tuple, mmr_rerank(
        emb, emb.where("vec_id < 2"), k=5, shortlist=10).collect()))
    want = sorted(map(tuple, con.execute(mmr_rerank_duckdb_sql(
        query_pred="vec_id < 2", k=5, shortlist=10)).fetchall()))
    con.close()
    assert got == want and len(got) == 2 * 3


def test_mmr_lambda_zero_pure_diversity_cross_engine(spark):
    """Review fix: lam=0 (pure diversity) — the pos-0 pick ranks by rel
    itself on both engines; lam*rel would collapse to ±0.0 in the
    kernel and diverge from the oracle's rel-DESC sel1."""
    import duckdb

    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from oracles.retrieval import mmr_rerank_duckdb_sql

    emb = spark.read.parquet(EMB_PATH)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{EMB_PATH}')")
    got = sorted(map(tuple, mmr_rerank(
        emb, emb.where("vec_id < 4"), k=4, shortlist=10,
        lam=0.0).collect()))
    want = sorted(map(tuple, con.execute(mmr_rerank_duckdb_sql(
        query_pred="vec_id < 4", k=4, shortlist=10,
        lam=0.0)).fetchall()))
    con.close()
    assert got == want and len(got) == 4 * 4


def test_fuzzy_rejects_block_sql_kwarg(spark):
    """ADVICE fix: the Spark operator once accepted (and silently
    ignored) the oracle emitter's block_sql kwarg — it must now fail
    loudly so a mis-addressed block override can't fall back to the
    default key unnoticed."""
    df = spark.createDataFrame([(1, "acme corp")], "id long, name string")
    with pytest.raises(TypeError):
        fuzzy_name_pairs(df, id_col="id", name_col="name",
                         block_sql="name[1]")


def test_fuzz_pagerank_configs_cross_engine(spark):
    """Config fuzz for PageRank: random (graph shape, iters, damping,
    dangling mode) draws, each bit-equal Spark vs DuckDB. Deterministic
    seed base 7575."""
    import random

    import duckdb

    rng = random.Random(7575)
    for trial in range(4):
        n_nodes = rng.randint(5, 12)
        n_edges = rng.randint(n_nodes, 3 * n_nodes)
        edges = sorted({(rng.randint(1, n_nodes), rng.randint(1, n_nodes))
                        for _ in range(n_edges)})
        edges = [(a, b) for a, b in edges if a != b] or [(1, 2)]
        iters = rng.randint(1, 6)
        damping = rng.choice([0.85, 0.5, 0.99])
        dangling = rng.choice(["leak", "redistribute"])
        cfg = (trial, len(edges), iters, damping, dangling)
        df = spark.createDataFrame(edges, ["src", "dst"])
        out = pagerank(df, iters=iters, damping=damping,
                       dangling=dangling)
        got = sorted(map(tuple, out.collect()))
        release(out)
        values = ", ".join(f"({a}, {b})" for a, b in edges)
        sql = pagerank_sql(
            f"SELECT * FROM (VALUES {values}) AS t(src, dst)",
            iters=iters, damping=damping, dangling=dangling)
        want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
        assert got == want, cfg


# ----------------------------------------------------- rrf fusion

def _ranked(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "rank"])


def test_rrf_fuse_semantics(spark):
    """Docs in both lists beat single-list docs at similar ranks;
    per-list rank columns surface; missing-list contribution is 0."""
    from flink_sql_security_spark.operators.retrieval import rrf_fuse

    lex = _ranked(spark, [(1, 1), (2, 2), (3, 3)])
    sem = _ranked(spark, [(2, 1), (4, 2), (1, 3)])
    out = {r["doc_id"]: r for r in
           rrf_fuse([("lex", lex), ("sem", sem)], k0=60, k=10).collect()}
    # doc 2: 1/62 + 1/61; doc 1: 1/61 + 1/63 -> doc 2 wins
    assert out[2]["rank"] == 1 and out[1]["rank"] == 2
    assert out[3]["r_sem"] is None and out[3]["r_lex"] == 3
    assert out[4]["r_lex"] is None
    exp = 1.0 / 62 + 1.0 / 61
    assert abs(out[2]["rrf_score"] - exp) < 1e-6
    # single-list docs score exactly one reciprocal
    assert abs(out[3]["rrf_score"] - 1.0 / 63) < 1e-6


def test_rrf_fuse_cross_engine_exact(spark):
    """Spark fusion == DuckDB oracle, value-exact, over real BM25 +
    cosine shortlists at sf0.001 (the entry's own composition)."""
    from oracles.common import floor_round
    from flink_sql_security_spark.operators import similarity as S
    from flink_sql_security_spark.operators.retrieval import bm25_topk, rrf_fuse
    from oracles.retrieval import bm25_topk_sql, rrf_fuse_sql

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    terms = ["vector", "stream", "hash"]
    lex = bm25_topk(docs, terms, k=25)
    sem = (S.cosine_topk(emb, emb.where("vec_id = 7"), k=25)
           .select(F.col("n_id").alias("doc_id"), "rank"))
    got = sorted(map(tuple, rrf_fuse(
        [("lex", lex), ("sem", sem)], k0=60, k=10).collect()))

    dot = floor_round(
        "list_sum(list_transform(list_zip(q.unit, n.unit), "
        "x -> x[1] * x[2]))", 6)
    unit = (
        "SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) / n) AS unit FROM (SELECT vec_id, "
        "embedding, sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n "
        "FROM embeddings)")
    sem_sql = (
        f"WITH u AS ({unit}), scored AS (SELECT q.vec_id AS q_id, "
        f"n.vec_id AS n_id, {dot} AS cosine FROM u q, u n "
        "WHERE q.vec_id = 7 AND q.vec_id <> n.vec_id), "
        "rk AS (SELECT n_id, row_number() OVER (PARTITION BY q_id "
        "ORDER BY cosine DESC, n_id) AS rank FROM scored) "
        "SELECT n_id AS doc_id, rank FROM rk WHERE rank <= 25")
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    want = sorted(map(tuple, con.execute(rrf_fuse_sql(
        [("lex", "SELECT doc_id, rank FROM ("
          + bm25_topk_sql(terms, k=25) + ") b"),
         ("sem", sem_sql)], k0=60, k=10)).fetchall()))
    con.close()
    assert got == want and len(got) == 10


def test_rrf_fuse_grouped_multi_query(spark):
    """group_col fuses per group: each q_id gets its own fused top-k,
    cross-engine exact."""
    from flink_sql_security_spark.operators.retrieval import rrf_fuse
    from oracles.retrieval import rrf_fuse_sql

    a = spark.createDataFrame(
        [(10, 1, 1), (10, 2, 2), (20, 2, 1), (20, 3, 2)],
        ["q_id", "doc_id", "rank"])
    b = spark.createDataFrame(
        [(10, 2, 1), (10, 3, 2), (20, 3, 1), (20, 1, 2)],
        ["q_id", "doc_id", "rank"])
    got = sorted(map(tuple, rrf_fuse(
        [("x", a), ("y", b)], k0=10, k=2,
        group_col="q_id").collect()))

    import duckdb
    con = duckdb.connect()
    a_sql = ("SELECT * FROM (VALUES (10, 1, 1), (10, 2, 2), (20, 2, 1), "
             "(20, 3, 2)) t(q_id, doc_id, rank)")
    b_sql = ("SELECT * FROM (VALUES (10, 2, 1), (10, 3, 2), (20, 3, 1), "
             "(20, 1, 2)) t(q_id, doc_id, rank)")
    want = sorted(map(tuple, con.execute(rrf_fuse_sql(
        [("x", a_sql), ("y", b_sql)], k0=10, k=2,
        group_col="q_id")).fetchall()))
    con.close()
    assert got == want
    # both groups present, each with ranks 1..2
    qids = {}
    for r in got:
        qids.setdefault(r[0], []).append(r[-1])
    assert {q: sorted(v) for q, v in qids.items()} == \
        {10: [1, 2], 20: [1, 2]}


def test_rrf_fuse_validation(spark):
    from flink_sql_security_spark.operators.retrieval import rrf_fuse
    from oracles.retrieval import rrf_fuse_sql

    df = _ranked(spark, [(1, 1)])
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="duplicate"):
        rrf_fuse([("a", df), ("a", df)])
    with pytest.raises(ValueError, match="name must be"):
        rrf_fuse([("bad name", df)])
    with pytest.raises(ValueError, match="k0"):
        rrf_fuse([("a", df)], k0=0)
    with pytest.raises(ValueError, match="k0"):
        rrf_fuse_sql([("a", "SELECT 1")], k0=0)


def test_rrf_fuse_weighted_cross_engine(spark):
    """Weighted RRF: per-arm weights scale contributions identically on
    both engines, and weights=None reproduces the unweighted result."""
    import duckdb

    from flink_sql_security_spark.operators.retrieval import rrf_fuse
    from oracles.retrieval import rrf_fuse_sql

    lex = _ranked(spark, [(1, 1), (2, 2), (3, 3)])
    sem = _ranked(spark, [(2, 1), (4, 2), (1, 3)])
    got = sorted(map(tuple, rrf_fuse(
        [("a", lex), ("b", sem)], k0=10, k=4,
        weights=[2.0, 0.5]).collect()))

    con = duckdb.connect()
    a_sql = ("SELECT * FROM (VALUES (1, 1), (2, 2), (3, 3)) "
             "t(doc_id, rank)")
    b_sql = ("SELECT * FROM (VALUES (2, 1), (4, 2), (1, 3)) "
             "t(doc_id, rank)")
    want = sorted(map(tuple, con.execute(rrf_fuse_sql(
        [("a", a_sql), ("b", b_sql)], k0=10, k=4,
        weights=[2.0, 0.5])).fetchall()))
    con.close()
    assert got == want and len(got) == 4

    # doc 1: 2.0/11 + 0.5/13 beats doc 2: 2.0/12 + 0.5/11
    by_id = {r[0]: r for r in got}
    assert abs(by_id[1][3] - (2.0 / 11 + 0.5 / 13)) < 1e-6

    plain = sorted(map(tuple, rrf_fuse(
        [("a", lex), ("b", sem)], k0=10, k=4).collect()))
    ones = sorted(map(tuple, rrf_fuse(
        [("a", lex), ("b", sem)], k0=10, k=4,
        weights=[1.0, 1.0]).collect()))
    assert plain == ones


def test_rrf_fuse_weight_validation(spark):
    from flink_sql_security_spark.operators.retrieval import rrf_fuse
    from oracles.retrieval import rrf_fuse_sql

    df = _ranked(spark, [(1, 1)])
    with pytest.raises(ValueError, match="weights length"):
        rrf_fuse([("a", df)], weights=[1.0, 2.0])
    with pytest.raises(ValueError, match="finite and > 0"):
        rrf_fuse([("a", df)], weights=[0.0])
    with pytest.raises(ValueError, match="finite and > 0"):
        rrf_fuse_sql([("a", "SELECT 1")], weights=[float("nan")])


def test_fuzz_rrf_configs_cross_engine(spark):
    """Config fuzz over RRF fusion: random (n_arms, k0, k, weights,
    group) draws over synthetic ranked lists, each value-exact vs the
    DuckDB oracle. Seed base 10101; rotate alongside the SQL bursts."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.retrieval import rrf_fuse
    from oracles.retrieval import rrf_fuse_sql

    rng = random.Random(10101)
    for trial in range(4):
        n_arms = rng.randint(2, 4)
        k0 = rng.choice([1, 10, 60])
        k = rng.randint(2, 6)
        grouped = rng.random() < 0.5
        weighted = rng.random() < 0.5
        weights = ([round(rng.uniform(0.25, 4.0), 2)
                    for _ in range(n_arms)] if weighted else None)
        arms, arm_sqls = [], []
        for a in range(n_arms):
            n_rows = rng.randint(3, 10)
            rows = []
            for g in ([1, 2] if grouped else [0]):
                ids = rng.sample(range(1, 30), n_rows)
                rows += [(g, doc, r + 1) for r, doc in enumerate(ids)]
            name = f"arm{a}"
            cols = ["q_id", "doc_id", "rank"]
            sdf = spark.createDataFrame(rows, cols)
            vals = ", ".join(f"({g}, {d}, {r})" for g, d, r in rows)
            sql = (f"SELECT * FROM (VALUES {vals}) "
                   f"t(q_id, doc_id, rank)")
            if not grouped:
                sdf = sdf.select("doc_id", "rank")
                sql = f"SELECT doc_id, rank FROM ({sql}) s"
            arms.append((name, sdf))
            arm_sqls.append((name, sql))
        cfg = (trial, n_arms, k0, k, grouped, weights)
        gc = "q_id" if grouped else None
        got = sorted(map(tuple, rrf_fuse(
            arms, k0=k0, k=k, group_col=gc,
            weights=weights).collect()))
        con = duckdb.connect()
        want = sorted(map(tuple, con.execute(rrf_fuse_sql(
            arm_sqls, k0=k0, k=k, group_col=gc,
            weights=weights)).fetchall()))
        con.close()
        assert got == want and len(got) > 0, cfg


# ------------------------------------------------------------ triangles

def test_triangles_complete_graph(spark):
    """K5: every node sits in C(4,2)=6 triangles with coefficient 1.0;
    degree-orientation must not lose or double-count any."""
    from flink_sql_security_spark.operators.graph import triangle_count

    k5 = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a < b],
        ["src", "dst"])
    for r in triangle_count(k5).collect():
        assert r["degree"] == 4 and r["triangles"] == 6, r
        assert r["clustering"] == 1.0, r


def test_triangles_bipartite_is_zero(spark):
    """A bipartite graph has no triangles; degree-1 nodes take the
    0.0 coefficient branch (no 0/0 divide)."""
    from flink_sql_security_spark.operators.graph import triangle_count

    bi = spark.createDataFrame(
        [(a, 100 + b) for a in range(4) for b in range(3)] + [(9, 108)],
        ["src", "dst"])
    rows = triangle_count(bi).collect()
    assert all(r["triangles"] == 0 for r in rows)
    assert all(r["clustering"] == 0.0 for r in rows)
    deg1 = [r for r in rows if r["degree"] == 1]
    assert deg1 and all(r["clustering"] == 0.0 for r in deg1)


def test_triangles_brute_force(spark):
    """Random multigraph with self-loops and reversed duplicates vs an
    itertools brute force over the simplified graph."""
    import itertools
    import random

    from flink_sql_security_spark.operators.graph import triangle_count

    rng = random.Random(2718)
    raw = [(rng.randrange(12), rng.randrange(12)) for _ in range(80)]
    simple = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    per: dict[int, int] = {}
    for a, b, c in itertools.combinations(
            sorted({x for e in simple for x in e}), 3):
        if {(a, b), (b, c), (a, c)} <= simple:
            for x in (a, b, c):
                per[x] = per.get(x, 0) + 1
    out = {r["node"]: r for r in triangle_count(
        spark.createDataFrame(raw, ["src", "dst"])).collect()}
    for node, row in out.items():
        assert row["triangles"] == per.get(node, 0), node
    assert sum(r["triangles"] for r in out.values()) == sum(per.values())


def test_triangles_partitioning_invariant(spark):
    """Integer counts make the result independent of input layout —
    same rows under a hostile repartition."""
    from flink_sql_security_spark.operators.graph import triangle_count

    import random

    rng = random.Random(31415)
    raw = [(rng.randrange(20), rng.randrange(20)) for _ in range(150)]
    df = spark.createDataFrame(raw, ["src", "dst"])
    a = sorted(map(tuple, triangle_count(df).collect()))
    b = sorted(map(tuple, triangle_count(
        df.repartition(11, "dst")).collect()))
    assert a == b and len(a) > 0


def test_fuzz_triangles_configs_cross_engine(spark):
    """Config fuzz: random undirected graphs (size, density), each
    bit-equal vs the triangle_sql DuckDB oracle — including the
    floor-rounded clustering coefficient. Seed base 27182."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.graph import triangle_count
    from oracles.graph import triangle_sql

    con = duckdb.connect()
    rng = random.Random(27182)
    for trial in range(4):
        n = rng.choice([6, 10, 16])
        m = rng.choice([8, 20, 40])
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        if all(a == b for a, b in edges):
            edges.append((0, 1))
        cfg = (trial, n, m)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted(map(tuple, triangle_count(df).collect()))
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        want = sorted(map(tuple, con.execute(triangle_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst)"
        )).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ------------------------------------------------------------------ lpa

def test_lpa_separates_planted_clusters(spark):
    """Two dense 8-cliques joined by ONE bridge edge: LPA keeps them
    separate (a majority of neighbors must flip a node) where connected
    components would merge them through the bridge."""
    from flink_sql_security_spark.operators.graph import label_propagation

    edges = []
    for base in (0, 100):
        edges += [(base + i, base + j)
                  for i in range(8) for j in range(i + 1, 8)]
    edges.append((3, 103))  # the spurious bridge
    out = {r["node"]: r["community"] for r in label_propagation(
        spark.createDataFrame(edges, ["src", "dst"]), iters=3).collect()}
    left = {out[i] for i in range(8)}
    right = {out[100 + i] for i in range(8)}
    assert left == {0} and right == {100}


def test_lpa_deterministic_tie_rule(spark):
    """A node with equal-count neighbor labels adopts the SMALLEST —
    pinned so the oracle contract can't drift."""
    from flink_sql_security_spark.operators.graph import label_propagation

    # node 9 sees labels {1, 2} once each after round 1
    df = spark.createDataFrame([(1, 9), (2, 9)], ["src", "dst"])
    out = {r["node"]: r["community"] for r in label_propagation(
        df, iters=1).collect()}
    assert out[9] == 1


def test_lpa_partitioning_invariant(spark):
    import random

    from flink_sql_security_spark.operators.graph import label_propagation

    rng = random.Random(99)
    raw = [(rng.randrange(18), rng.randrange(18)) for _ in range(120)]
    df = spark.createDataFrame(raw, ["src", "dst"])
    a = sorted(map(tuple, label_propagation(df, iters=3).collect()))
    b = sorted(map(tuple, label_propagation(
        df.repartition(13, "src"), iters=3).collect()))
    assert a == b and len(a) > 0


def test_lpa_validates_iters(spark):
    import pytest

    from flink_sql_security_spark.operators.graph import label_propagation
    from oracles.graph import label_propagation_sql

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="iters"):
        label_propagation(df, iters=0)
    with pytest.raises(ValueError, match="iters"):
        label_propagation_sql("SELECT 1 AS src, 2 AS dst", iters=-1)


def test_fuzz_lpa_configs_cross_engine(spark):
    """Config fuzz: random graphs × iteration depth, bit-equal vs the
    unrolled DuckDB oracle. Seed base 14143."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.graph import label_propagation
    from oracles.graph import label_propagation_sql

    con = duckdb.connect()
    rng = random.Random(14143)
    for trial in range(4):
        n = rng.choice([5, 10, 16])
        m = rng.choice([8, 20, 40])
        iters = rng.choice([1, 2, 4])
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        if all(a == b for a, b in edges):
            edges.append((0, 1))
        cfg = (trial, n, m, iters)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted(map(tuple, label_propagation(
            df, iters=iters).collect()))
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        want = sorted(map(tuple, con.execute(label_propagation_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst)",
            iters=iters)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ------------------------------------------------------ weighted pr

def test_weighted_pagerank_follows_weight(spark):
    """Two targets with 9:1 edge weights from one source: the heavy
    target's rank gets ~9× the flowed mass."""
    from flink_sql_security_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 1)], ["src", "dst", "w"])
    out = {r["node"]: r["rank"] for r in pagerank(
        df, iters=1, weight_col="w").collect()}
    base = min(out.values())          # the no-inflow (1-d)/N floor
    assert (out[2] - base) == pytest.approx(9 * (out[3] - base), rel=1e-9)


def test_weighted_equal_weights_matches_unweighted(spark):
    """All-equal weights reproduce the unweighted ranks to ~1e-12
    (rank·(w/Σw) vs rank/outdeg round differently — not bitwise)."""
    import random

    from flink_sql_security_spark.operators.graph import pagerank

    rng = random.Random(60)
    edges = sorted({(rng.randrange(10), rng.randrange(10))
                    for _ in range(30)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame([(a, b, 7) for a, b in edges],
                               ["src", "dst", "w"])
    wr = {r["node"]: r["rank"] for r in pagerank(
        df, iters=4, weight_col="w").collect()}
    ur = {r["node"]: r["rank"] for r in pagerank(
        df.select("src", "dst"), iters=4).collect()}
    assert max(abs(wr[n] - ur[n]) for n in wr) < 1e-12


def test_weighted_pagerank_drops_nonpositive(spark):
    """Zero/negative-weight edges are dropped on BOTH engines — a node
    reachable only through them becomes dangling, not divide-by-zero."""
    from flink_sql_security_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 0), (2, 3, -1), (2, 1, 2)],
        ["src", "dst", "w"])
    out = {r["node"]: r for r in pagerank(
        df, iters=2, weight_col="w").collect()}
    assert set(out) == {1, 2}    # node 3's only edges were dropped


def test_fuzz_weighted_pagerank_cross_engine(spark):
    """Config fuzz: random weighted graphs × (iters, seeds, dangling),
    bit-equal vs the DuckDB oracle. Seed base 16182."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.graph import pagerank
    from oracles.graph import pagerank_sql

    con = duckdb.connect()
    rng = random.Random(16182)
    for trial in range(3):
        n = rng.choice([6, 12])
        iters = rng.choice([2, 4])
        seeds = rng.choice([None, [0, 1]])
        dang = rng.choice(["leak", "redistribute"])
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(30)})
        edges = [(a, b, rng.randrange(1, 20))
                 for a, b in edges if a != b] or [(0, 1, 3)]
        cfg = (trial, n, iters, seeds, dang)
        df = spark.createDataFrame(edges, ["src", "dst", "w"])
        got = sorted(map(tuple, pagerank(
            df, iters=iters, weight_col="w", seeds=seeds,
            dangling=dang).collect()))
        vals = ", ".join(f"({a}, {b}, {w})" for a, b, w in edges)
        want = sorted(map(tuple, con.execute(pagerank_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst, w)",
            iters=iters, weight="w", seeds=seeds,
            dangling=dang)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ------------------------------------------------------------------ bfs

def test_bfs_levels_hand_graph(spark):
    """Path 1→2→3→4 with a shortcut 1→3: min distances win, the
    unreached tail stays absent, hops cap respected."""
    from flink_sql_security_spark.operators.graph import bfs_levels

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (4, 5), (5, 6)],
        ["src", "dst"])
    out = dict(map(tuple, bfs_levels(df, [1], max_hops=2).collect()))
    assert out == {1: 0, 2: 1, 3: 1, 4: 2}   # 3 via shortcut; 5,6 beyond


def test_bfs_early_exhaustion(spark):
    """Frontier empties before max_hops: no phantom rows, no error."""
    from flink_sql_security_spark.operators.graph import bfs_levels

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    out = dict(map(tuple, bfs_levels(df, [1], max_hops=5).collect()))
    assert out == {1: 0, 2: 1}


def test_bfs_validates_args(spark):
    import pytest

    from flink_sql_security_spark.operators.graph import bfs_levels
    from oracles.graph import bfs_levels_sql

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="max_hops"):
        bfs_levels(df, [1], max_hops=0)
    with pytest.raises(ValueError, match="non-empty"):
        bfs_levels(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        bfs_levels_sql("SELECT 1 AS src, 2 AS dst", [1, 1])
    with pytest.raises(ValueError, match="quotes"):
        bfs_levels_sql("SELECT 'a' AS src, 'b' AS dst", ["a'; DROP"])


def test_bfs_string_node_ids(spark):
    """The seed frame's node type derives from the edge dst column —
    string ids work like the rest of the graph family (ADVICE r09);
    the SQL twin quotes string seed literals under the escape guard."""
    import duckdb

    from flink_sql_security_spark.operators.graph import bfs_levels
    from oracles.graph import bfs_levels_sql

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"])
    out = dict(map(tuple, bfs_levels(df, ["a"], max_hops=2).collect()))
    assert out == {"a": 0, "b": 1, "c": 2}
    sql = bfs_levels_sql(
        "SELECT * FROM (VALUES ('a','b'),('b','c'),('c','d')) "
        "t(src, dst)", ["a"], max_hops=2)
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert want == out


def test_fuzz_bfs_cross_engine(spark):
    """Config fuzz: random graphs × (seed sets, depth), exact vs the
    unrolled DuckDB oracle AND a python brute force. Seed 27184."""
    import collections
    import random

    import duckdb

    from flink_sql_security_spark.operators.graph import bfs_levels
    from oracles.graph import bfs_levels_sql

    con = duckdb.connect()
    rng = random.Random(27184)
    for trial in range(3):
        n = rng.choice([8, 15])
        m = rng.choice([15, 40])
        hops = rng.choice([1, 2, 4])
        seeds = rng.sample(range(n), rng.choice([1, 3]))
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(m)})
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        cfg = (trial, n, m, hops, seeds)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted(map(tuple, bfs_levels(
            df, seeds, max_hops=hops).collect()))
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        want = sorted(map(tuple, con.execute(bfs_levels_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", seeds,
            max_hops=hops)).fetchall()))
        assert got == want, cfg
        adj = collections.defaultdict(list)
        for a, b in edges:
            adj[a].append(b)
        dist = {s: 0 for s in seeds}
        q = list(seeds)
        for _ in range(hops):
            q2 = []
            for u in q:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        q2.append(v)
            q = q2
        assert dict(got) == dist, cfg
    con.close()


# ------------------------------------------------------------- k-core

def test_k_core_hand_graph_cascade(spark):
    """4-cycle (1-2-3-4) with a 3-node tail 4-5-6-7: the 2-core is the
    cycle, and the tail peels one node per round (7, then 6, then 5)
    — a genuine multi-round cascade, not a single filter."""
    from flink_sql_security_spark.operators.graph import k_core

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(map(tuple, k_core(df, k=2, max_rounds=6).collect()))
    assert got == [(1, 2), (2, 2), (3, 2), (4, 2)]
    # bounded semantics: 1 round only strips the current leaves
    partial = sorted(map(tuple, k_core(df, k=2, max_rounds=1).collect()))
    assert [n for n, _ in partial] == [1, 2, 3, 4, 5, 6]
    # k above the max degree empties the graph
    assert k_core(df, k=4, max_rounds=6).count() == 0


def test_k_core_validates_and_self_loops(spark):
    import pytest as _pytest

    from flink_sql_security_spark.operators.graph import k_core
    from oracles.graph import k_core_sql

    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], ["src", "dst"])
    # self-loop dropped, duplicate/reversed edges collapse: max core
    # is the single 1-2 edge → 1-core {1, 2}, 2-core empty
    assert sorted(map(tuple, k_core(df, k=1).collect())) == \
        [(1, 1), (2, 1)]
    assert k_core(df, k=2).count() == 0
    with _pytest.raises(ValueError, match="k must"):
        k_core(df, k=0)
    with _pytest.raises(ValueError, match="max_rounds"):
        k_core(df, k=2, max_rounds=0)
    with _pytest.raises(ValueError, match="k must"):
        k_core_sql("SELECT 1 AS src, 2 AS dst", k=0)


def test_fuzz_k_core_cross_engine(spark):
    """Random graphs × (k, max_rounds) bit-equal vs the unrolled
    DuckDB oracle, plus an exact python peel as the semantic referee
    when max_rounds suffices for convergence. Seed 196418."""
    import collections
    import random

    import duckdb

    from flink_sql_security_spark.operators.graph import k_core
    from oracles.graph import k_core_sql

    con = duckdb.connect()
    rng = random.Random(196418)
    for trial in range(5):
        n = rng.choice([8, 16])
        m = rng.choice([12, 30])
        k = rng.choice([2, 3])
        rounds = rng.choice([1, 3, 8])
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(m)})
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        cfg = (trial, n, m, k, rounds)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted(map(tuple, k_core(
            df, k=k, max_rounds=rounds).collect()))
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        want = sorted(map(tuple, con.execute(k_core_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst)",
            k=k, max_rounds=rounds)).fetchall()))
        assert got == want, cfg
        if rounds >= 8:        # enough to converge on ≤16 nodes here
            adj = collections.defaultdict(set)
            for a, b in edges:
                adj[a].add(b)
                adj[b].add(a)
            changed = True
            while changed:
                drop = [u for u, vs in adj.items() if len(vs) < k]
                changed = bool(drop)
                for u in drop:
                    for v in adj[u]:
                        adj[v].discard(u)
                    del adj[u]
            ref = sorted((u, len(vs)) for u, vs in adj.items())
            assert got == ref, cfg
    con.close()


def _distributed_loop(monkeypatch, op, *args, **kw):
    """``op`` with the driver-kernel gate closed (``DRIVER_EDGES_LIMIT``
    = 0), so its distributed loop runs."""
    with monkeypatch.context() as m:
        m.setattr(graph, "DRIVER_EDGES_LIMIT", 0)
        return op(*args, **kw)


def test_pagerank_driver_vs_distributed_parity(spark, monkeypatch):
    """The r12 driver-kernel gate must be invisible in the values: the
    numpy iteration (default at broadcast-scale edge counts) and the
    distributed loop (forced via DRIVER_EDGES_LIMIT=0) produce
    bit-identical (node, rank, rank_pos) across config space —
    unweighted/weighted, leak/redistribute, uniform/personalized."""
    import random

    rng = random.Random(12121)
    for trial in range(6):
        n_nodes = rng.randint(5, 14)
        raw = sorted({(rng.randint(1, n_nodes), rng.randint(1, n_nodes))
                      for _ in range(rng.randint(n_nodes, 3 * n_nodes))})
        raw = [(a, b) for a, b in raw if a != b] or [(1, 2)]
        iters = rng.randint(1, 5)
        damping = rng.choice([0.85, 0.5, 0.99])
        dangling = rng.choice(["leak", "redistribute"])
        seeds = (None if trial % 3 else [raw[0][0], raw[-1][1]]
                 if raw[0][0] != raw[-1][1] else [raw[0][0]])
        weighted = trial % 2 == 1
        if weighted:
            edges = [(a, b, rng.randint(1, 9)) for a, b in raw]
            df = spark.createDataFrame(edges, ["src", "dst", "w"])
            kw = dict(weight_col="w")
        else:
            df = spark.createDataFrame(raw, ["src", "dst"])
            kw = {}
        cfg = (trial, len(raw), iters, damping, dangling,
               seeds, weighted)
        a = pagerank(df, iters=iters, damping=damping,
                     dangling=dangling, seeds=seeds, **kw)
        got_drv = sorted(map(tuple, a.collect()))
        release(a)
        b = _distributed_loop(monkeypatch, pagerank, df, iters=iters,
                              damping=damping, dangling=dangling,
                              seeds=seeds, **kw)
        got_dist = sorted(map(tuple, b.collect()))
        release(b)
        assert got_drv == got_dist, cfg  # exact, float bits included


def test_hits_driver_vs_distributed_parity(spark, monkeypatch):
    """HITS driver kernel (default at broadcast-scale edge counts) vs
    the distributed loop (DRIVER_EDGES_LIMIT=0): bit-identical
    (node, hub, auth, auth_pos) across random graphs/depths."""
    import random

    rng = random.Random(23232)
    for trial in range(5):
        n_nodes = rng.randint(5, 14)
        raw = sorted({(rng.randint(1, n_nodes), rng.randint(1, n_nodes))
                      for _ in range(rng.randint(n_nodes, 3 * n_nodes))})
        raw = [(a, b) for a, b in raw if a != b] or [(1, 2)]
        iters = rng.randint(1, 4)
        from flink_sql_security_spark.operators.graph import hits

        df = spark.createDataFrame(raw, ["src", "dst"])
        a = hits(df, iters=iters)
        got_drv = sorted(map(tuple, a.collect()))
        release(a)
        b = _distributed_loop(monkeypatch, hits, df, iters=iters)
        got_dist = sorted(map(tuple, b.collect()))
        release(b)
        assert got_drv == got_dist, (trial, len(raw), iters)


def test_lpa_bfs_kcore_driver_vs_distributed_parity(spark, monkeypatch):
    """LPA / BFS / k-core driver kernels vs their distributed loops
    (forced via DRIVER_EDGES_LIMIT=0): identical result sets across
    random graphs — integer counts/levels/degrees, so equality is
    exact."""
    import random

    from flink_sql_security_spark.operators.graph import (
        bfs_levels, k_core, label_propagation)

    rng = random.Random(34343)
    for trial in range(4):
        n_nodes = rng.randint(5, 14)
        raw = sorted({(rng.randint(1, n_nodes), rng.randint(1, n_nodes))
                      for _ in range(rng.randint(n_nodes, 3 * n_nodes))})
        raw = [(a, b) for a, b in raw if a != b] or [(1, 2)]
        df = spark.createDataFrame(raw, ["src", "dst"])
        cfg = (trial, len(raw))

        iters = rng.randint(1, 3)
        a = label_propagation(df, iters=iters)
        ga = sorted(map(tuple, a.collect()))
        release(a)
        b = _distributed_loop(monkeypatch, label_propagation, df,
                              iters=iters)
        gb = sorted(map(tuple, b.collect()))
        release(b)
        assert ga == gb, ("lpa", cfg, iters)

        seeds = [raw[0][0]] if trial % 2 else [raw[0][0], 999]
        hops = rng.randint(1, 3)
        a = bfs_levels(df, seeds, max_hops=hops)
        ga = sorted(map(tuple, a.collect()))
        release(a)
        b = _distributed_loop(monkeypatch, bfs_levels, df, seeds,
                              max_hops=hops)
        gb = sorted(map(tuple, b.collect()))
        release(b)
        assert ga == gb, ("bfs", cfg, seeds, hops)

        kk = rng.randint(1, 4)
        rounds = rng.randint(1, 4)
        a = k_core(df, k=kk, max_rounds=rounds)
        ga = sorted(map(tuple, a.collect()))
        release(a)
        b = _distributed_loop(monkeypatch, k_core, df, k=kk,
                              max_rounds=rounds)
        gb = sorted(map(tuple, b.collect()))
        release(b)
        assert ga == gb, ("kcore", cfg, kk, rounds)


def test_triangles_driver_vs_distributed_parity(spark, monkeypatch):
    """Triangle-count driver kernel vs the distributed wedge join
    (forced via DRIVER_EDGES_LIMIT=0): bit-identical (node, degree,
    triangles, clustering) — integer counts plus one floor-rounded
    IEEE divide reproduced operand-for-operand. Includes a dense
    near-clique (many wedges per apex) and the chunked-enumeration
    path (DRIVER_WEDGE_LIMIT small enough to force multiple chunks is
    exercised via a tiny budget fallback check)."""
    import random

    from flink_sql_security_spark.operators.graph import triangle_count

    rng = random.Random(45454)
    graphs = []
    for trial in range(4):
        n_nodes = rng.randint(5, 14)
        raw = sorted({(rng.randint(1, n_nodes), rng.randint(1, n_nodes))
                      for _ in range(rng.randint(n_nodes, 4 * n_nodes))})
        raw = [(a, b) for a, b in raw if a != b] or [(1, 2)]
        graphs.append(raw)
    # dense near-clique: every pair of 9 nodes minus a few
    clique = [(i, j) for i in range(1, 10) for j in range(i + 1, 10)
              if (i, j) not in {(1, 2), (3, 7)}]
    graphs.append(clique)
    for gi, raw in enumerate(graphs):
        df = spark.createDataFrame(raw, ["src", "dst"])
        a = triangle_count(df)
        ga = sorted(map(tuple, a.collect()))
        release(a)
        b = _distributed_loop(monkeypatch, triangle_count, df)
        gb = sorted(map(tuple, b.collect()))
        release(b)
        assert ga == gb, ("tri", gi, len(raw))
    # wedge-limit fallback: a limit of 0 wedges must route every
    # non-trivial graph to the distributed join and still answer
    df = spark.createDataFrame(graphs[-1], ["src", "dst"])
    with monkeypatch.context() as m:
        m.setattr(graph, "DRIVER_WEDGE_LIMIT", 0)
        a = triangle_count(df)
    ga = sorted(map(tuple, a.collect()))
    release(a)
    b = _distributed_loop(monkeypatch, triangle_count, df)
    gb = sorted(map(tuple, b.collect()))
    release(b)
    assert ga == gb


def test_triangles_nan_node_falls_back_to_distributed(spark, monkeypatch):
    """A NaN node value in a double-typed edge list: the driver kernel
    cannot code it (pandas factorizes NaN as -1), so triangle_count must
    return exactly what the distributed join returns, where NaN is one
    ordinary node. The graph holds a triangle through the NaN node."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from flink_sql_security_spark.operators.graph import triangle_count

    nan = float("nan")
    raw = [(1.0, 2.0), (2.0, 3.0), (3.0, 1.0), (3.0, nan), (nan, 1.0),
           (4.0, nan), (4.0, 5.0)]
    schema = StructType([StructField("src", DoubleType()),
                         StructField("dst", DoubleType())])
    df = spark.createDataFrame(raw, schema)

    def rows(out):
        # repr keys: NaN != NaN would defeat both sort and equality
        got = {repr(r["node"]): (r["degree"], r["triangles"],
                                 repr(r["clustering"]))
               for r in out.collect()}
        release(out)
        return got

    ga = rows(triangle_count(df))
    gb = rows(_distributed_loop(monkeypatch, triangle_count, df))
    assert ga == gb
    assert ga["nan"][:2] == (3, 1) and ga["1.0"][:2] == (3, 2), ga
