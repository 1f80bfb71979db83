"""Tests for clustering (distributed k-means), sequence packing, and int8
quantization — the round-2 training-data-pipeline additions."""

import pytest
from pyspark.sql import functions as F

from flink_sql_security_spark.operators import clustering as C
import oracles.clustering
from flink_sql_security_spark.operators import packing as PK
from flink_sql_security_spark.operators import quantize as Q


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [1.1, -0.1, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 0.9, 0.1, 0.0]),
        (6, [0.0, 1.1, -0.1, 0.0]),
        (7, [0.0, 0.0, 5.0, 5.0]),
        (8, [0.0, 0.0, 5.5, 4.5]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------

def test_kmeans_separates_obvious_clusters(vecs):
    cells = {r["vec_id"]: r["cell"]
             for r in C.kmeans_cells(vecs, k=3, iters=4).collect()}
    assert cells[1] == cells[2] == cells[3]
    assert cells[4] == cells[5] == cells[6]
    assert cells[7] == cells[8]
    assert len({cells[1], cells[4], cells[7]}) == 3


def test_kmeans_fit_matches_python_replica(vecs):
    spark_c = C.kmeans_fit(vecs, k=3, iters=3)
    rows = [(r["vec_id"], list(r["embedding"]))
            for r in vecs.collect()]
    replica_c = oracles.clustering.kmeans_fit_replica(rows, k=3, iters=3)
    assert spark_c == replica_c  # bit-identical, not approx


def test_kmeans_deterministic_under_repartition(vecs):
    a = C.kmeans_fit(vecs, k=3, iters=3)
    b = C.kmeans_fit(vecs.repartition(7), k=3, iters=3)
    assert a == b


def test_kmeans_assignment_is_narrow(vecs):
    plan = C.kmeans_assign(
        vecs, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero-shuffle per-row fold
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_empty_cell_keeps_centroid(spark):
    # k=3 over 2 distinct points: one seed never wins a vector; its
    # centroid must survive unchanged rather than divide by zero
    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [9.0, 9.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    c = C.kmeans_fit(df, k=3, iters=2)
    assert len(c) == 3
    assert c[1] == [0.0, 0.0]  # seed 2's cell: ties all go to cell 0


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def test_pack_sequences_chunks_in_id_order(spark):
    rows = [(1, 100), (2, 300), (3, 200), (4, 50), (5, 500)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = {r["doc_id"]: r for r in
           PK.pack_sequences(df, "n_tokens", budget=512).collect()}
    # starts: 0, 100, 400, 600, 650
    assert (out[1]["bin_id"], out[1]["bin_offset"]) == (0, 0)
    assert (out[2]["bin_id"], out[2]["bin_offset"]) == (0, 100)
    assert (out[3]["bin_id"], out[3]["bin_offset"]) == (0, 400)
    assert (out[4]["bin_id"], out[4]["bin_offset"]) == (1, 88)
    assert (out[5]["bin_id"], out[5]["bin_offset"]) == (1, 138)
    assert out[3]["spans_boundary"] is True   # 400+200 crosses 512
    assert out[4]["spans_boundary"] is False
    assert out[5]["spans_boundary"] is True   # 650+500 crosses 1024


def test_pack_sequences_partitioning_invariant(spark):
    rows = [(i, (i * 37) % 400 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    a = sorted(map(tuple, PK.pack_sequences(
        df, "n_tokens", budget=256, n_buckets=8).collect()))
    b = sorted(map(tuple, PK.pack_sequences(
        df.repartition(13), "n_tokens", budget=256, n_buckets=3).collect()))
    assert a == b


def test_pack_sequences_no_global_window(spark):
    # the scale contract: no single-partition window anywhere in the plan
    rows = [(i, i + 1) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    plan = PK.pack_sequences(df, "n_tokens")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SinglePartition" not in plan


def test_pack_sequences_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert PK.pack_sequences(df, "n_tokens").count() == 0


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------

def test_quantize_extremes_and_roundtrip(spark):
    rows = [(1, [0.0, -2.0]), (2, [1.0, 2.0]), (3, [0.5, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    out = {r["vec_id"]: r for r in Q.quantize_int8(df).collect()}
    assert out[1]["codes"] == [-128, -128]  # per-dim minimum → lowest code
    assert out[2]["codes"] == [127, 127]    # per-dim maximum → highest code
    assert out[3]["codes"][0] == 0          # midpoint → floor(127.5+0.5)-128
    # max abs error bounded by half a quantization step per dim
    for r in out.values():
        assert r["err"] <= 0.5 * max(1.0, 4.0) / 255 + 1e-9


def test_quantize_constant_dim_is_zero_code(spark):
    rows = [(1, [3.0, 1.0]), (2, [3.0, 2.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    out = {r["vec_id"]: r["codes"] for r in Q.quantize_int8(df).collect()}
    assert out[1][0] == 0 and out[2][0] == 0  # rng=0 dim → code 0, no NaN


def test_quantize_codes_projection_is_narrow(vecs):
    stats = Q.dim_stats(vecs)
    plan = Q.quantize_int8(vecs, stats=stats)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantize_reusable_codebook(vecs):
    stats = Q.dim_stats(vecs)
    a = sorted(map(tuple, Q.quantize_int8(vecs, stats=stats).collect()))
    b = sorted(map(tuple, Q.quantize_int8(vecs).collect()))
    assert a == b


def test_length_bucketed_batches_contract(spark):
    """Batches hold ≤ batch_docs docs of one power-of-two length bucket;
    pad_frac is the real padding waste of each batch."""
    from flink_sql_security_spark.operators.packing import (
        length_bucketed_batches,
    )

    df = spark.createDataFrame(
        [(i, 10 + (i * 37) % 500) for i in range(200)],
        "doc_id long, n long")
    rows = length_bucketed_batches(df, "n", batch_docs=4).collect()
    assert len(rows) == 200
    by_batch = {}
    for r in rows:
        assert r["bucket"] == len(bin(r["n_tokens"])) - 2
        by_batch.setdefault((r["bucket"], r["batch_id"]), []).append(r)
    for (_, _), members in by_batch.items():
        assert len(members) <= 4
        mx = max(m["n_tokens"] for m in members)
        assert all(m["batch_max"] == mx for m in members)
        want = round(1.0 - sum(m["n_tokens"] for m in members)
                     / (mx * len(members)), 6)
        assert all(abs(m["pad_frac"] - want) < 1e-9 for m in members)


def test_length_bucketed_batches_cuts_padding(spark):
    """The operator's reason to exist: bucketed batches waste far less
    padding than id-ordered batches of the same size."""
    from flink_sql_security_spark.operators.packing import (
        length_bucketed_batches,
    )

    rows = [(i, 16 if i % 2 == 0 else 1024) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = length_bucketed_batches(df, "n", batch_docs=8).collect()
    # alternating 16/1024 id-ordered batches waste ~50% capacity;
    # bucketing puts equal lengths together → zero padding
    assert all(r["pad_frac"] == 0.0 for r in out)


def test_length_bucketed_batches_single_exchange(spark):
    from flink_sql_security_spark.operators.packing import (
        length_bucketed_batches,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 300 + 1).alias("n"))
    plan = length_bucketed_batches(df, "n") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


# ---------------------------------------------------------------------------
# BPE tokenizer
# ---------------------------------------------------------------------------

def _bpe_corpus(spark):
    rows = [(i, t) for i, t in enumerate([
        "low low low low low",
        "lower lower newer newer newer newer",
        "newest newest newest widest widest",
        "low lower lowest newer newest",
    ] * 3)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_train_learns_frequent_pairs(spark):
    from flink_sql_security_spark.operators import bpe

    merges = bpe.bpe_train(_bpe_corpus(spark), n_merges=10, min_freq=1)
    assert len(merges) == 10
    # 'lo'/'ne'/'w'-family merges dominate this classic fixture
    joined = {a + b for a, b in merges}
    assert any(m.startswith("lo") or m.startswith("ne") for m in joined)


def test_bpe_train_matches_replica(spark, tmp_path):
    from flink_sql_security_spark.operators import bpe
    import oracles.bpe

    df = _bpe_corpus(spark)
    p = str(tmp_path / "bpe.parquet")
    df.write.mode("overwrite").parquet(p)
    # Spark writes a directory of part files; glob them for DuckDB
    assert bpe.bpe_train(df, n_merges=12, min_freq=1) == \
        oracles.bpe.bpe_train_replica(p + "/*.parquet", n_merges=12, min_freq=1)


def test_bpe_encode_counts_shrink_with_merges(spark):
    """More merges → fewer tokens, floored at one-per-word+marker; zero
    merges = chars + end marker per word."""
    from flink_sql_security_spark.operators import bpe

    df = _bpe_corpus(spark)
    merges = bpe.bpe_train(df, n_merges=16, min_freq=1)
    n0 = {r["doc_id"]: r["n_tokens"]
          for r in bpe.bpe_encode(df, []).collect()}
    n16 = {r["doc_id"]: r["n_tokens"]
           for r in bpe.bpe_encode(df, merges).collect()}
    row0 = df.where("doc_id = 0").collect()[0]["text"]
    chars = sum(len(w) + 1 for w in row0.split())
    assert n0[0] == chars
    assert all(n16[k] < n0[k] for k in n0)


def test_bpe_encode_duckdb_parity_in_test(spark):
    import duckdb

    from flink_sql_security_spark.operators import bpe
    import oracles.bpe

    df = _bpe_corpus(spark)
    merges = bpe.bpe_train(df, n_merges=8, min_freq=1)
    got = sorted(map(tuple, bpe.bpe_encode(df, merges).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    [(r["doc_id"], r["text"]) for r in df.collect()])
    want = sorted(map(tuple, con.execute(
        oracles.bpe.bpe_encode_duckdb_sql(merges)).fetchall()))
    assert got == want


def test_bpe_encode_is_narrow(spark):
    from flink_sql_security_spark.operators import bpe

    df = _bpe_corpus(spark)
    plan = bpe.bpe_encode(df, [("l", "o"), ("lo", "w")]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py)
# ---------------------------------------------------------------------------

def _clustered_vectors(spark, n_clusters=6, per=20, d=16, spread=0.02):
    """Deterministic clustered corpus: PQ's intended regime (real
    embedding spaces cluster; random vectors are its worst case)."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.uniform(-1, 1, size=(n_clusters, d))
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per):
            v = centers[ci] + rng.uniform(-spread, spread, size=d)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_train_shapes_and_determinism(spark):
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark)
    b1 = PQ.pq_train(df, m=4, k=8, iters=2)
    b2 = PQ.pq_train(df.repartition(7), m=4, k=8, iters=2)
    assert len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 4
    assert b1 == b2  # fixed-order sample -> partitioning-independent


def test_pq_uneven_subspaces(spark):
    from flink_sql_security_spark.operators.pq import _subspace_bounds

    assert _subspace_bounds(10, 4) == [(0, 3), (3, 3), (6, 2), (8, 2)]
    assert sum(w for _, w in _subspace_bounds(64, 12)) == 64


def test_pq_encode_duckdb_parity_and_reconstruction(spark):
    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq
    from tools.pin_rewrites import SF_DIR

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    enc = PQ.pq_encode(emb, books)
    rows = enc.collect()
    assert all(len(r["codes"]) == 8 and r["err"] >= 0 for r in rows)
    got = sorted((r["vec_id"], tuple(r["codes"]), r["err"]) for r in rows)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    want = sorted((i, tuple(c), e) for i, c, e in con.execute(
        oracles.pq.pq_encode_duckdb_sql(f"{SF_DIR}/embeddings.parquet",
                                        m=8, k=16, iters=2)).fetchall())
    assert got == want


def test_pq_topk_duckdb_parity(spark):
    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    got = sorted(map(tuple, PQ.pq_topk(
        emb, emb.where("vec_id < 4"), books, k=5).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    want = sorted(map(tuple, con.execute(oracles.pq.pq_topk_duckdb_sql(
        "/root/testdata/sf0.001/embeddings.parquet",
        query_pred="vec_id < 4", m=8, k_cb=16, iters=2, k=5)).fetchall()))
    assert got == want and len(got) == 20


def test_pq_recall_on_clustered_corpus(spark):
    """PQ's contract on a clustered space: every ADC neighbor comes from
    the query's own cluster (100% region recall). Exact-RANK recall
    inside a tight cluster is NOT the contract — all members of a tight
    cluster share codes, so ADC cannot rank within a quantization cell
    (ties break by id); the set overlap with exact L2 is bounded by
    k/cluster_size there, by design."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark)        # cluster id = vec_id // 20
    books = PQ.pq_train(df, m=8, k=8, iters=3)
    rows = PQ.pq_topk(df, df.where("vec_id < 10"), books, k=10).collect()
    assert len(rows) == 100
    for r in rows:
        assert r["n_id"] // 20 == r["q_id"] // 20, (
            f"neighbor {r['n_id']} not in query {r['q_id']}'s cluster")


def test_pq_encode_is_narrow(spark):
    """Per-row work only: no keyed shuffle on EITHER implementation.
    The default arrow path is exactly one sanctioned Arrow kernel; the
    expr path has zero Python anywhere. The one permitted exchange is
    the documented RoundRobin parallelism lift (fires when the input
    arrives in fewer partitions than the session has cores — a no-op at
    scale where inputs carry enough partitions)."""
    from flink_sql_security_spark.operators import pq as PQ

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=4, k=4, iters=1)
    for impl in ("arrow", "expr"):
        plan = PQ.pq_encode(emb, books, impl=impl) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan, plan
        assert "rangepartitioning" not in plan, plan
        assert plan.count("RoundRobinPartitioning") <= 1, plan
        if impl == "expr":
            assert "EvalPython" not in plan and "InPandas" not in plan
        else:
            assert plan.count("InPandas") == 1, plan


def test_pq_encode_arrow_expr_interchangeable(spark):
    """The two encode implementations are row-for-row identical in
    every configuration (flat / coarse / residual / stringified) —
    the arrow kernel replicates the sequential fold bit-exactly."""
    from flink_sql_security_spark.operators import pq as PQ

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    coarse = PQ.coarse_train(emb, n_cells=8, iters=2)
    coarse_r, books_r = PQ.ivfpq_train(emb, n_cells=8, m=8, k=16,
                                       iters=2)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for kw in (dict(), dict(coarse=coarse),
               dict(coarse=coarse_r, residual=True),
               dict(stringify_codes=True)):
        bks = books_r if kw.get("residual") else books
        assert rows(PQ.pq_encode(emb, bks, impl="expr", **kw)) == \
            rows(PQ.pq_encode(emb, bks, impl="arrow", **kw)), kw


def test_ivfpq_topk_duckdb_parity(spark):
    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    coarse = PQ.coarse_train(emb, n_cells=8, iters=2)
    got = sorted(map(tuple, PQ.ivfpq_topk(
        emb, emb.where("vec_id < 4"), coarse, books,
        k=5, n_probe=3).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    want = sorted(map(tuple, con.execute(oracles.pq.ivfpq_topk_duckdb_sql(
        "/root/testdata/sf0.001/embeddings.parquet",
        query_pred="vec_id < 4", m=8, k_cb=16, iters=2,
        n_cells=8, n_probe=3, k=5)).fetchall()))
    assert got == want and len(got) == 20


def test_ivfpq_scores_only_probed_cells(spark):
    """The IVF-PQ contract: every returned neighbor lives in one of the
    query's n_probe cells, and the search plan is a cell-keyed JOIN —
    no cartesian / nested-loop scan of the full code table."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark)
    books = PQ.pq_train(df, m=4, k=8, iters=2)
    coarse = PQ.coarse_train(df, n_cells=6, iters=3)
    out = PQ.ivfpq_topk(df, df.where("vec_id < 5"), coarse, books,
                        k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan

    cells = {r["vec_id"]: r["cell"] for r in PQ.pq_encode(
        df, books, coarse=coarse).select("vec_id", "cell").collect()}
    import numpy as np
    qvecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
             for r in df.where("vec_id < 5").collect()}
    for r in out.collect():
        probes = PQ.probe_cells(qvecs[r["q_id"]], coarse, 2)
        assert cells[r["n_id"]] in probes, (
            f"neighbor {r['n_id']} (cell {cells[r['n_id']]}) outside "
            f"query {r['q_id']}'s probe set {probes}")


def test_ivfpq_recall_on_clustered_corpus(spark):
    """On a clustered space the probed cells contain the query's own
    cluster, so region recall stays 100% despite scoring only
    n_probe/n_cells of the code table."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark)        # cluster id = vec_id // 20
    books = PQ.pq_train(df, m=8, k=8, iters=3)
    coarse = PQ.coarse_train(df, n_cells=6, iters=3)
    rows = PQ.ivfpq_topk(df, df.where("vec_id < 10"), coarse, books,
                         k=10, n_probe=2).collect()
    assert len(rows) == 100
    for r in rows:
        assert r["n_id"] // 20 == r["q_id"] // 20, (
            f"neighbor {r['n_id']} not in query {r['q_id']}'s cluster")


def test_ivfpq_residual_duckdb_parity(spark):
    """Residual IVFADC (codes + LUTs over x − coarse_centroid[cell])
    must stay hash-strict against the oracle, like every other mode."""
    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    coarse, books = PQ.ivfpq_train(emb, n_cells=8, m=8, k=16, iters=2)
    got = sorted(map(tuple, PQ.ivfpq_topk(
        emb, emb.where("vec_id < 4"), coarse, books, k=5, n_probe=3,
        residual=True).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    want = sorted(map(tuple, con.execute(oracles.pq.ivfpq_topk_duckdb_sql(
        path, query_pred="vec_id < 4", m=8, k_cb=16, iters=2,
        n_cells=8, n_probe=3, k=5, residual=True)).fetchall()))
    assert got == want and len(got) == 20


def test_ivfpq_residual_ranks_within_clusters(spark):
    """The IVFADC claim, measured: raw-vector codes collapse inside a
    tight cluster (every member quantizes to the same codes — ADC
    cannot rank there), residual codes still separate members. Recall@5
    vs exact L2 must improve MATERIALLY with residual encoding."""
    import numpy as np

    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark, n_clusters=6, per=30, d=16, spread=0.1)
    rows = sorted((r["vec_id"], r["embedding"])
                  for r in df.collect())
    X = np.array([v for _, v in rows])
    truth = {}
    for qi in range(8):
        d2 = ((X - X[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        truth[qi] = {int(j) for j in np.argsort(d2, kind="stable")[:5]}

    def recall(res):
        return sum(len({n for q, n in res if q == qid} & t)
                   for qid, t in truth.items()) / (5 * len(truth))

    q = df.where("vec_id < 8")
    booksF = PQ.pq_train(df, m=4, k=16, iters=3)
    coarseN = PQ.coarse_train(df, n_cells=6, iters=3)
    coarseR, booksR = PQ.ivfpq_train(df, n_cells=6, m=4, k=16, iters=3)
    nr = {(r["q_id"], r["n_id"]) for r in PQ.ivfpq_topk(
        df, q, coarseN, booksF, k=5, n_probe=2).collect()}
    rr = {(r["q_id"], r["n_id"]) for r in PQ.ivfpq_topk(
        df, q, coarseR, booksR, k=5, n_probe=2, residual=True).collect()}
    assert recall(rr) >= recall(nr) + 0.2, (recall(nr), recall(rr))


def test_pq_topk_query_side_stays_distributed(spark, monkeypatch):
    """No toPandas() of the query table on any path: forcing the
    non-broadcast gate (1-byte ceiling) must produce the identical
    result through a plain (non-hinted) join."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark, n_clusters=3, per=10, d=8)
    books = PQ.pq_train(df, m=4, k=8, iters=2)
    q = df.where("vec_id < 4")
    coarse = PQ.coarse_train(df, n_cells=4, iters=2)
    # the query frame's size is unknown to the optimizer, so the
    # broadcast side is forced through the gate itself
    with monkeypatch.context() as m:
        m.setattr(PQ, "_gate_lut_broadcast", lambda *a, **kw: True)
        want = sorted(map(tuple, PQ.pq_topk(df, q, books, k=3).collect()))
        want_ivf = sorted(map(tuple, PQ.ivfpq_topk(
            df, q, coarse, books, k=3, n_probe=2).collect()))
    monkeypatch.setattr(PQ, "BROADCAST_LIMIT_BYTES", 1)
    got = sorted(map(tuple, PQ.pq_topk(df, q, books, k=3).collect()))
    assert got == want and len(got) == 12
    got = sorted(map(tuple, PQ.ivfpq_topk(
        df, q, coarse, books, k=3, n_probe=2).collect()))
    assert got == want_ivf and len(got) == 12


def test_pq_reconstruct_duckdb_parity_all_modes(spark):
    """The decode completes the faiss-style surface: plain, IVF (cell
    emitted), and residual-IVFADC reconstructions all hash-match the
    oracle's centroid-literal concatenation."""
    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    got = sorted((r["vec_id"], tuple(r["approx"])) for r in
                 PQ.pq_reconstruct(emb, books).collect())
    want = sorted((i, tuple(a)) for i, a in con.execute(
        oracles.pq.pq_reconstruct_duckdb_sql(path, m=8, k=16, iters=2)).fetchall())
    assert got == want and len(got) == 500

    coarseR, booksR = PQ.ivfpq_train(emb, n_cells=8, m=8, k=16, iters=2)
    got = sorted((r["vec_id"], r["cell"], tuple(r["approx"])) for r in
                 PQ.pq_reconstruct(emb, booksR, coarse=coarseR,
                                   residual=True).collect())
    want = sorted((i, c, tuple(a)) for i, c, a in con.execute(
        oracles.pq.pq_reconstruct_duckdb_sql(path, m=8, k=16, iters=2, n_cells=8,
                                             residual=True)).fetchall())
    assert got == want


def test_pq_encode_rejects_null_vectors_and_elements(spark):
    """NULL vectors and NULL elements must fail LOUDLY: a null component
    folds its subspace distances to NULL → NULL codes → NULL adc_dist,
    and ascending rank order puts NULLs first — a silently corrupt row
    would win every top-k."""
    from flink_sql_security_spark.operators import pq as PQ

    ok = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [2.0, 1.0, 0.5, 3.0]),
          (2, [0.1, 0.2, 0.3, 0.4]), (3, [4.0, 3.0, 2.0, 1.0])]
    df_ok = spark.createDataFrame(ok, "vec_id long, embedding array<double>")
    books = PQ.pq_train(df_ok, m=2, k=2, iters=1)
    for bad in (None, [1.0, None, 2.0, 3.0]):
        df = spark.createDataFrame(
            ok + [(9, bad)], "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="bad vector"):
            PQ.pq_encode(df, books).collect()
    # clean input still encodes
    assert PQ.pq_encode(df_ok, books).count() == 4


def test_ivfpq_coarse_dim_mismatch_raises(spark):
    """A coarse matrix whose dimension disagrees with the vectors must
    fail LOUDLY at build time on both the encode and the query side —
    before this guard, zip_with null-padded, every cell came out NULL,
    and the cell join silently returned zero rows."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark, n_clusters=2, per=5, d=8)
    books = PQ.pq_train(df, m=4, k=4, iters=1)
    bad_coarse = [[0.0, 0.0], [1.0, 1.0]]           # 2 dims vs d=8
    with pytest.raises(ValueError, match="coarse centroid dimension"):
        PQ.pq_encode(df, books, coarse=bad_coarse)
    with pytest.raises(ValueError, match="coarse centroid dimension"):
        PQ.ivfpq_topk(df, df.where("vec_id < 2"), bad_coarse, books, k=2)


def test_pq_input_contracts(spark):
    """Bad configurations fail loudly at build time, not mid-job."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark, n_clusters=2, per=5, d=8)
    # m > d: subspaces of width 0 are impossible
    with pytest.raises(ValueError):
        PQ.pq_train(df, m=16, k=4, iters=1)
    with pytest.raises(ValueError):
        PQ.pq_train(df, m=0, k=4, iters=1)
    with pytest.raises(ValueError):
        PQ.pq_train(df, m=4, k=0, iters=1)
    # encode with codebooks whose total width disagrees with the vectors
    books = PQ.pq_train(df, m=4, k=4, iters=1)
    wrong = spark.createDataFrame(
        [(1, [0.0] * 12)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception):
        PQ.pq_encode(wrong, books).collect()


def test_ivfpq_rerank_duckdb_parity(spark):
    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    coarse = PQ.coarse_train(emb, n_cells=8, iters=2)
    got = sorted(map(tuple, PQ.ivfpq_rerank(
        emb, emb.where("vec_id < 4"), coarse, books,
        k=5, n_probe=3, rerank=3).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    want = sorted(map(tuple, con.execute(oracles.pq.ivfpq_rerank_duckdb_sql(
        "/root/testdata/sf0.001/embeddings.parquet",
        query_pred="vec_id < 4", m=8, k_cb=16, iters=2,
        n_cells=8, n_probe=3, k=5, rerank=3)).fetchall()))
    assert got == want and len(got) == 20


def _exact_topk_ids(df, q_pred, k):
    """Brute-force exact-L2 top-k sets per query (test oracle)."""
    import numpy as np

    rows = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in df.collect()}
    out = {}
    for qid, q in rows.items():
        if not q_pred(qid):
            continue
        d = sorted((float(((q - v) ** 2).sum()), nid)
                   for nid, v in rows.items() if nid != qid)
        out[qid] = {nid for _, nid in d[:k]}
    return out


def test_ivfpq_rerank_recall_at_least_plain(spark):
    """Rerank's contract: with the same probe set, exact re-scoring of
    the widened shortlist can only improve set-recall vs ranking the
    same cells by quantized ADC distance alone. Checked against exact
    brute-force L2 on a clustered corpus (spread loose enough that
    within-cluster ordering carries signal for ADC to get wrong)."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark, n_clusters=4, per=25, d=16, spread=0.4)
    books = PQ.pq_train(df, m=4, k=8, iters=3)
    coarse = PQ.coarse_train(df, n_cells=4, iters=3)
    q = df.where("vec_id < 8")
    k = 5
    truth = _exact_topk_ids(df, lambda i: i < 8, k)
    plain = PQ.ivfpq_topk(df, q, coarse, books, k=k, n_probe=2)
    rer = PQ.ivfpq_rerank(df, q, coarse, books, k=k, n_probe=2, rerank=4)

    def recall(res):
        got = {}
        for r in res.collect():
            got.setdefault(r["q_id"], set()).add(r["n_id"])
        return sum(len(got[qid] & truth[qid]) for qid in truth) / (
            k * len(truth))

    r_plain, r_rerank = recall(plain), recall(rer)
    assert r_rerank >= r_plain, (r_plain, r_rerank)
    assert r_rerank >= 0.8, r_rerank


def test_ivfpq_rerank_orders_shortlist_exactly(spark):
    """Stage 2 must rank by EXACT distance: per query, ranks increase
    with exact_dist (ties by n_id) and every returned exact_dist equals
    the true squared L2 to that neighbor."""
    import numpy as np

    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark, n_clusters=3, per=10, d=8, spread=0.3)
    books = PQ.pq_train(df, m=4, k=8, iters=2)
    coarse = PQ.coarse_train(df, n_cells=3, iters=2)
    rows = PQ.ivfpq_rerank(df, df.where("vec_id < 3"), coarse, books,
                           k=4, n_probe=2, rerank=3).collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in df.collect()}
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
        true = float(((vecs[r["q_id"]] - vecs[r["n_id"]]) ** 2).sum())
        assert abs(r["exact_dist"] - true) < 1e-5, (r, true)
    for qid, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        keys = [(r["exact_dist"], r["n_id"]) for r in rs]
        assert keys == sorted(keys), (qid, keys)


def test_ivfpq_rerank_residual_duckdb_parity(spark):
    """Full-IVFADC rerank: residual codebooks through the two-stage
    search must stay bit-exact against the nested-CTE oracle."""
    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    coarse, books = PQ.ivfpq_train(emb, n_cells=8, m=8, k=16, iters=2)
    got = sorted(map(tuple, PQ.ivfpq_rerank(
        emb, emb.where("vec_id < 4"), coarse, books,
        k=5, n_probe=3, rerank=3, residual=True).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    want = sorted(map(tuple, con.execute(oracles.pq.ivfpq_rerank_duckdb_sql(
        "/root/testdata/sf0.001/embeddings.parquet",
        query_pred="vec_id < 4", m=8, k_cb=16, iters=2,
        n_cells=8, n_probe=3, k=5, rerank=3,
        residual=True)).fetchall()))
    assert got == want and len(got) == 20


def test_pq_search_null_query_vector_is_loud(spark):
    """A NULL query vector must fail with a clear message, not an
    opaque numpy TypeError from inside the executor."""
    import pytest

    from flink_sql_security_spark.operators import pq as PQ

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=4, k=4, iters=1)
    bad = spark.createDataFrame(
        [(999999, None)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL query vector"):
        PQ.pq_topk(emb, bad, books, k=3).collect()


def test_pq_search_null_element_in_query_is_loud(spark):
    """A NULL ELEMENT inside a query vector must also fail loudly — it
    converts to NaN and would otherwise return the k lowest ids as
    plausible-looking neighbors (NaN sorts last, ties by id)."""
    import pytest

    from flink_sql_security_spark.operators import pq as PQ

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=4, k=4, iters=1)
    dim = len(emb.first()["embedding"])
    vec = [0.5] * dim
    vec[3] = None
    bad = spark.createDataFrame(
        [(999999, vec)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL/NaN element in query"):
        PQ.pq_topk(emb, bad, books, k=3).collect()


def test_pq_reconstruct_arrow_expr_interchangeable(spark):
    """Decode implementations are row-for-row identical across flat /
    coarse / residual configurations."""
    from flink_sql_security_spark.operators import pq as PQ

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    coarse = PQ.coarse_train(emb, n_cells=8, iters=2)
    coarse_r, books_r = PQ.ivfpq_train(emb, n_cells=8, m=8, k=16,
                                       iters=2)

    def rows(df):
        return sorted((r.asDict().get("vec_id"), r.asDict().get("cell"),
                       tuple(r.asDict()["approx"])) for r in df.collect())

    for kw in (dict(), dict(coarse=coarse),
               dict(coarse=coarse_r, residual=True)):
        bks = books_r if kw.get("residual") else books
        assert rows(PQ.pq_reconstruct(emb, bks, impl="expr", **kw)) == \
            rows(PQ.pq_reconstruct(emb, bks, impl="arrow", **kw)), kw


def test_fuzz_pq_configs_cross_engine(spark):
    """Config fuzz for the PQ tier: random (m, k_cb, n_cells, n_probe,
    k, rerank, residual) draws, each verified value-exact against the
    DuckDB oracle end to end. Deterministic seeds — every run checks
    the same configs; rotate the seed base alongside the SQL fuzz
    bursts."""
    import random

    import duckdb

    from flink_sql_security_spark.operators import pq as PQ
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    rng = random.Random(4242)
    for trial in range(4):
        m = rng.choice([4, 8, 16])
        k_cb = rng.choice([8, 16])
        n_cells = rng.choice([4, 8])
        n_probe = rng.randint(2, n_cells)
        k = rng.randint(3, 6)
        rerank = rng.choice([2, 3])
        residual = rng.random() < 0.5
        n_q = rng.choice([3, 5])
        if residual:
            coarse, books = PQ.ivfpq_train(emb, n_cells=n_cells, m=m,
                                           k=k_cb, iters=2)
        else:
            books = PQ.pq_train(emb, m=m, k=k_cb, iters=2)
            coarse = PQ.coarse_train(emb, n_cells=n_cells, iters=2)
        got = sorted(map(tuple, PQ.ivfpq_rerank(
            emb, emb.where(f"vec_id < {n_q}"), coarse, books, k=k,
            n_probe=n_probe, rerank=rerank,
            residual=residual).collect()))
        want = sorted(map(tuple, con.execute(oracles.pq.ivfpq_rerank_duckdb_sql(
            path, query_pred=f"vec_id < {n_q}", m=m, k_cb=k_cb, iters=2,
            n_cells=n_cells, n_probe=n_probe, k=k, rerank=rerank,
            residual=residual)).fetchall()))
        cfg = (trial, m, k_cb, n_cells, n_probe, k, rerank, residual)
        assert got == want and len(got) == n_q * k, cfg


def test_pq_encode_reconstruct_empty_input(spark):
    """ADVICE fix: an empty corpus (and any empty Arrow batch inside the
    kernels) must produce the empty result, not a numpy IndexError from
    slicing a 0-row matrix as 2-D."""
    from flink_sql_security_spark.operators import pq as PQ

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = PQ.pq_train(emb, m=4, k=8, iters=2)
    empty = emb.where("vec_id < 0")
    assert PQ.pq_encode(empty, books).count() == 0
    assert PQ.pq_reconstruct(empty, books).count() == 0


def test_pq_topk_auto_gate_routes_large_corpus_to_ivf(spark, monkeypatch):
    """The flat-ADC scale gate: mode='auto' must route through the
    cell-pruned IVF path once the corpus row count exceeds
    FLAT_LIMIT_ROWS, and the routed result must be ivfpq_topk's exact
    output (same coarse quantizer, same config). The routing key is
    the EXACT row count (layout/compression-independent), supplied
    either by the gate's own count job or by the corpus_rows hint —
    both must route identically."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark)
    books = PQ.pq_train(df, m=4, k=8, iters=2)
    coarse = PQ.coarse_train(df, n_cells=6, iters=3)
    q = df.where("vec_id < 5")

    monkeypatch.setattr(PQ, "FLAT_LIMIT_ROWS", 1)
    routed = PQ.pq_topk(df, q, books, k=3, mode="auto",
                        coarse=coarse, n_probe=2)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    want = sorted(map(tuple, PQ.ivfpq_topk(
        df, q, coarse, books, k=3, n_probe=2).collect()))
    assert sorted(map(tuple, routed.collect())) == want and len(want) == 15

    # corpus_rows hint: skips the count job, same route, same rows
    hinted = PQ.pq_topk(df, q, books, k=3, mode="auto",
                        corpus_rows=df.count(), coarse=coarse, n_probe=2)
    assert sorted(map(tuple, hinted.collect())) == want

    # a small hint keeps the flat route even when the real corpus is
    # past the threshold — the hint IS the routing key
    monkeypatch.setattr(PQ, "FLAT_LIMIT_ROWS", 1_000_000)
    flat_hint = PQ.pq_topk(df, q, books, k=3, mode="auto",
                           corpus_rows=10, coarse=coarse, n_probe=2)
    flat = sorted(map(tuple, PQ.pq_topk(
        df, q, books, k=3, mode="flat").collect()))
    assert sorted(map(tuple, flat_hint.collect())) == flat


def test_pq_topk_auto_gate_small_corpus_stays_flat(spark, monkeypatch):
    """Below the threshold (default 500k rows) auto == flat: identical
    rows, and the plan still carries the exhaustive crossJoin — the
    strictly-oracle-checked shape the emb_pq_topk entry (mode='auto')
    resolves to at every test SF."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark, n_clusters=3, per=10, d=8)
    books = PQ.pq_train(df, m=4, k=8, iters=2)
    q = df.where("vec_id < 4")
    flat = sorted(map(tuple, PQ.pq_topk(
        df, q, books, k=3, mode="flat").collect()))
    auto = PQ.pq_topk(df, q, books, k=3, mode="auto")
    assert sorted(map(tuple, auto.collect())) == flat and len(flat) == 12

    # mode='flat' pins the exhaustive scan even past the size gate
    monkeypatch.setattr(PQ, "FLAT_LIMIT_ROWS", 1)
    pinned = PQ.pq_topk(df, q, books, k=3, mode="flat")
    assert sorted(map(tuple, pinned.collect())) == flat

    with __import__("pytest").raises(ValueError, match="mode"):
        PQ.pq_topk(df, q, books, mode="bogus")


def test_pq_topk_explicit_ivf_mode_trains_coarse(spark):
    """mode='ivf' with no coarse list trains one with the deterministic
    coarse_train recipe — result identical to passing that quantizer."""
    from flink_sql_security_spark.operators import pq as PQ

    df = _clustered_vectors(spark)
    books = PQ.pq_train(df, m=4, k=8, iters=2)
    q = df.where("vec_id < 5")
    got = sorted(map(tuple, PQ.pq_topk(
        df, q, books, k=3, mode="ivf", n_cells=6, n_probe=2,
        coarse_sample=2048).collect()))
    coarse = PQ.coarse_train(df, n_cells=6, iters=3, sample=2048)
    want = sorted(map(tuple, PQ.ivfpq_topk(
        df, q, coarse, books, k=3, n_probe=2).collect()))
    assert got == want and len(got) == 15


# ---------------------------------------------------------------------------
# OPQ: learned rotation before PQ (Ge et al. 2013)
# ---------------------------------------------------------------------------

def test_opq_train_deterministic_and_orthogonal(spark):
    import numpy as np

    from flink_sql_security_spark.operators import opq as O

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R1, b1 = O.opq_train(emb, m=8, k=16, iters=2, opq_iters=2)
    R2, b2 = O.opq_train(emb.repartition(7), m=8, k=16, iters=2,
                         opq_iters=2)
    assert R1 == R2 and b1 == b2  # lowest-id sample → layout-independent
    Rn = np.asarray(R1)
    # orthogonal up to the 1e-6 literal quantization
    assert float(abs(Rn @ Rn.T - np.eye(len(R1))).max()) < 1e-4
    assert len(b1) == 8 and len(b1[0]) == 16


def test_opq_topk_duckdb_parity(spark):
    import duckdb

    from flink_sql_security_spark.operators import opq as O
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    R, books = O.opq_train(emb, m=8, k=16, iters=2, opq_iters=2)
    got = sorted(map(tuple, O.opq_topk(
        emb, emb.where("vec_id < 5"), R, books, k=4).collect()))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    want = sorted(map(tuple, con.execute(oracles.pq.opq_topk_duckdb_sql(
        path, query_pred="vec_id < 5", m=8, k_cb=16, iters=2,
        opq_iters=2, k=4)).fetchall()))
    assert got == want and len(got) == 5 * 4


def test_opq_ivf_route_gates_broadcast_on_probe_table(spark, monkeypatch):
    """opq_topk sizes its broadcast gate for the route it takes: with a
    limit the flat LUT fits but the IVF probe table (n_probe LUTs per
    query) does not, the IVF plan carries no broadcast hint and the flat
    plan still does. Both are sized on the frames before rotation."""
    from flink_sql_security_spark.operators import opq as O
    from flink_sql_security_spark.operators import pq as PQ
    from flink_sql_security_spark.plan_stats import plan_size_bytes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R, books = O.opq_train(emb, m=8, k=16, iters=2, opq_iters=2)
    q = emb.where("vec_id < 5")
    # the flat LUT's estimate, as _gate_lut_broadcast computes it
    per_row_in = sum(len(b[0]) for b in books) * 8 + 8
    per_row_out = sum(len(b) for b in books) * 8 + 16
    lut_bytes = (plan_size_bytes(q.select("vec_id", "embedding"))
                 * per_row_out // per_row_in)
    monkeypatch.setattr(PQ, "BROADCAST_LIMIT_BYTES", lut_bytes)
    assert PQ._gate_lut_broadcast(q, "vec_id", "embedding", books)
    assert not PQ._gate_lut_broadcast(q, "vec_id", "embedding", books,
                                      n_probe=8)

    def hinted(df):
        return "ResolvedHint" in df._jdf.queryExecution().analyzed() \
            .toString()

    assert not hinted(O.opq_topk(emb, q, R, books, k=3, mode="ivf"))
    assert hinted(O.opq_topk(emb, q, R, books, k=3, mode="flat"))


def test_opq_cuts_quantization_distortion():
    """The OPQ objective (Ge et al. 2013 eq. 6): total quantization
    distortion under the learned rotation is strictly lower than plain
    axis-aligned PQ's on an anisotropic mixed corpus — the property
    that buys recall at the same code budget. Deterministic fixture."""
    import numpy as np

    from flink_sql_security_spark.operators.opq import (
        opq_train_np, _pq_assign_np)
    from flink_sql_security_spark.operators.pq import pq_train_np

    rng = np.random.RandomState(6)
    lat = rng.randn(400, 16) * np.linspace(3.0, 0.1, 16)
    X = lat @ np.linalg.qr(rng.randn(16, 16))[0]
    books_pq = pq_train_np(X, 8, 8, 3)
    R, books_opq = opq_train_np(X, 8, 8, 3, 3, 6)
    Xr = X @ np.asarray(R)
    dist_pq = float(((X - _pq_assign_np(X, books_pq)) ** 2).sum())
    dist_opq = float(((Xr - _pq_assign_np(Xr, books_opq)) ** 2).sum())
    assert dist_opq < 0.95 * dist_pq, (dist_opq, dist_pq)


def test_opq_rotate_is_narrow_and_loud(spark):
    """Per-row work only on BOTH implementations: no keyed shuffle.
    The default arrow path is one sanctioned Arrow kernel behind the
    documented conditional RoundRobin parallelism lift (no-op at scale
    where inputs carry enough partitions); the expr path keeps zero
    Python AND zero exchanges."""
    from flink_sql_security_spark.operators import opq as O

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R, _ = O.opq_train(emb, m=4, k=8, iters=1, opq_iters=1)
    for impl in ("arrow", "expr"):
        plan = O.opq_rotate(emb, R, impl=impl) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan, plan
        assert "rangepartitioning" not in plan, plan
        assert plan.count("RoundRobinPartitioning") <= 1, plan
        if impl == "expr":
            assert "Exchange" not in plan, plan  # one narrow projection
            assert "EvalPython" not in plan and "InPandas" not in plan
        else:
            assert plan.count("InPandas") == 1, plan

    bad = spark.createDataFrame([(1, [1.0, 2.0])],
                                "vec_id long, embedding array<double>")
    import pytest as _pt
    for impl in ("arrow", "expr"):
        with _pt.raises(Exception, match="opq_rotate"):
            O.opq_rotate(bad, R, impl=impl).collect()


def test_opq_rotate_arrow_expr_interchangeable(spark):
    """The Arrow rotation kernel replicates the expression fold
    bit-exactly: same sequential accumulation order, same floor rule —
    row-for-row identical output."""
    from flink_sql_security_spark.operators import opq as O

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R, _ = O.opq_train(emb, m=8, k=8, iters=2, opq_iters=2)

    def rows(df):
        return sorted((r["vec_id"], tuple(r["rot"])) for r in df.collect())

    assert rows(O.opq_rotate(emb, R, impl="arrow")) == \
        rows(O.opq_rotate(emb, R, impl="expr"))


def test_fuzz_opq_configs_cross_engine(spark):
    """Config fuzz for OPQ: random (m, k_cb, opq_iters, k) draws, each
    verified value-exact against the DuckDB oracle end to end.
    Deterministic seed base 6464."""
    import random

    import duckdb

    from flink_sql_security_spark.operators import opq as O
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    rng = random.Random(6464)
    for trial in range(3):
        m = rng.choice([4, 8, 16])
        k_cb = rng.choice([8, 16])
        opq_iters = rng.randint(1, 3)
        k = rng.randint(3, 6)
        n_q = rng.choice([3, 5])
        cfg = (trial, m, k_cb, opq_iters, k, n_q)
        R, books = O.opq_train(emb, m=m, k=k_cb, iters=2,
                               opq_iters=opq_iters)
        got = sorted(map(tuple, O.opq_topk(
            emb, emb.where(f"vec_id < {n_q}"), R, books, k=k).collect()))
        want = sorted(map(tuple, con.execute(oracles.pq.opq_topk_duckdb_sql(
            path, query_pred=f"vec_id < {n_q}", m=m, k_cb=k_cb, iters=2,
            opq_iters=opq_iters, k=k)).fetchall()))
        assert got == want and len(got) == n_q * k, cfg


def test_opq_ivf_topk_duckdb_parity_both_modes(spark):
    """OPQ → IVF-PQ composition (the faiss 'OPQ,IVF,PQ' recipe):
    bit-equal Spark vs DuckDB in plain and residual modes — rotation,
    cell assignment, encode, probe sets, LUTs and ranking all verify."""
    import duckdb

    from flink_sql_security_spark.operators import opq as O
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    for residual in (False, True):
        R, coarse, books = O.opq_ivf_train(
            emb, m=8, k=16, iters=2, opq_iters=2, n_cells=8,
            residual=residual)
        got = sorted(map(tuple, O.opq_ivf_topk(
            emb, emb.where("vec_id < 5"), R, coarse, books, k=4,
            n_probe=4, residual=residual).collect()))
        want = sorted(map(tuple, con.execute(oracles.pq.opq_ivf_topk_duckdb_sql(
            path, query_pred="vec_id < 5", m=8, k_cb=16, iters=2,
            opq_iters=2, n_cells=8, n_probe=4, k=4,
            residual=residual)).fetchall()))
        assert got == want and len(got) == 5 * 4, residual


def test_opq_ivf_scores_only_probed_cells(spark):
    """Every returned neighbor lives in one of the ROTATED query's
    n_probe cells, and the plan is a cell-keyed join (no cartesian)."""
    import numpy as np

    from flink_sql_security_spark.operators import opq as O, pq as PQ
    import oracles.pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R, coarse, books = O.opq_ivf_train(emb, m=8, k=16, iters=2,
                                       opq_iters=2, n_cells=8)
    out = O.opq_ivf_topk(emb, emb.where("vec_id < 5"), R, coarse, books,
                         k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan

    cells = {r["vec_id"]: r["cell"] for r in PQ.pq_encode(
        O.opq_rotate(emb, R), books, vec_col="rot",
        coarse=coarse).select("vec_id", "cell").collect()}
    qvecs = {r["vec_id"]: r["embedding"]
             for r in emb.where("vec_id < 5").collect()}
    for r in out.collect():
        rq = np.asarray(oracles.pq._rotate_py(qvecs[r["q_id"]], R))
        probes = PQ.probe_cells(rq, coarse, 2)
        assert cells[r["n_id"]] in probes, (r, probes)


def test_oracle_builders_handle_empty_query_set(spark):
    """Review fix: an empty query predicate must yield valid SQL that
    returns zero rows — not a 'VALUES )' parse error — in the flat-PQ,
    IVF-PQ, OPQ and OPQ-IVF oracle emitters."""
    import duckdb

    from flink_sql_security_spark.operators import opq as O, pq as PQ
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    pred = "vec_id < 0"
    for sql in (
            oracles.pq.pq_topk_duckdb_sql(path, query_pred=pred, m=4, k_cb=8,
                                          iters=1, k=3),
            oracles.pq.ivfpq_topk_duckdb_sql(path, query_pred=pred, m=4, k_cb=8,
                                             iters=1, n_cells=4, n_probe=2, k=3),
            oracles.pq.opq_topk_duckdb_sql(path, query_pred=pred, m=4, k_cb=8,
                                           iters=1, opq_iters=1, k=3),
            oracles.pq.opq_ivf_topk_duckdb_sql(path, query_pred=pred, m=4,
                                               k_cb=8, iters=1, opq_iters=1,
                                               n_cells=4, n_probe=2, k=3)):
        assert con.execute(sql).fetchall() == []


def test_opq_ivf_codes_df_reuse(spark):
    """Review fix: opq_encode(coarse=...) builds the CELL-KEYED index
    opq_ivf_topk's codes_df path consumes — identical result to the
    from-scratch call, with the encode skipped."""
    from flink_sql_security_spark.operators import opq as O

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R, coarse, books = O.opq_ivf_train(emb, m=8, k=16, iters=2,
                                       opq_iters=2, n_cells=8)
    q = emb.where("vec_id < 5")
    want = sorted(map(tuple, O.opq_ivf_topk(
        emb, q, R, coarse, books, k=4, n_probe=4).collect()))
    index = O.opq_encode(emb, R, books, coarse=coarse).persist()
    try:
        got = sorted(map(tuple, O.opq_ivf_topk(
            emb, q, R, coarse, books, k=4, n_probe=4,
            codes_df=index).collect()))
    finally:
        index.unpersist()
    assert got == want and len(got) == 20


def test_cluster_balanced_sample_contract(spark):
    """Topic-balanced subsample: at most n rows per k-means cell,
    deterministic under repartitioning, bit-equal vs the oracle."""
    import duckdb
    from collections import Counter

    from flink_sql_security_spark.operators import clustering as C
    import oracles.clustering

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    out = C.cluster_balanced_sample(emb, k=4, iters=2, n_per_cell=6)
    got = sorted(map(tuple, out.collect()))
    counts = Counter(c for _, c in got)
    assert all(v <= 6 for v in counts.values())
    assert len(counts) >= 2  # the corpus genuinely spreads over cells

    again = sorted(map(tuple, C.cluster_balanced_sample(
        emb.repartition(7), k=4, iters=2, n_per_cell=6).collect()))
    assert again == got

    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    want = sorted(map(tuple, con.execute(
        oracles.clustering.cluster_balanced_sample_duckdb_sql(
            path, k=4, iters=2, n_per_cell=6)).fetchall()))
    assert got == want


def test_fuzz_opq_ivf_configs_cross_engine(spark):
    """Config fuzz over the OPQ→IVF-PQ composition: random
    (m, k_cb, n_cells, n_probe, residual, k) draws, each value-exact
    vs the DuckDB oracle (mirrors the OPQ flat suite, seed base 6464).
    Deterministic seed base 7575; rotate alongside the SQL fuzz
    bursts."""
    import random

    import duckdb

    from flink_sql_security_spark.operators import opq as O
    import oracles.pq

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    rng = random.Random(7575)
    for trial in range(3):
        m = rng.choice([4, 8])
        k_cb = rng.choice([8, 16])
        n_cells = rng.choice([4, 8])
        n_probe = rng.randint(2, n_cells)
        residual = rng.random() < 0.5
        k = rng.randint(3, 6)
        n_q = rng.choice([3, 5])
        cfg = (trial, m, k_cb, n_cells, n_probe, residual, k, n_q)
        R, coarse, books = O.opq_ivf_train(
            emb, m=m, k=k_cb, iters=2, opq_iters=2, n_cells=n_cells,
            residual=residual)
        got = sorted(map(tuple, O.opq_ivf_topk(
            emb, emb.where(f"vec_id < {n_q}"), R, coarse, books, k=k,
            n_probe=n_probe, residual=residual).collect()))
        want = sorted(map(tuple, con.execute(oracles.pq.opq_ivf_topk_duckdb_sql(
            path, query_pred=f"vec_id < {n_q}", m=m, k_cb=k_cb,
            iters=2, opq_iters=2, n_cells=n_cells, n_probe=n_probe,
            k=k, residual=residual)).fetchall()))
        assert got == want and len(got) == n_q * k, cfg
    con.close()


def test_fuzz_cluster_balanced_configs_cross_engine(spark):
    """Config fuzz over topic-balanced subsampling: random
    (k, iters, n_per_cell, salt) draws, each value-exact vs the
    oracle's replica-centroid + md5-quota SQL. Seed base 8686."""
    import random

    import duckdb

    from flink_sql_security_spark.operators import clustering as CL
    import oracles.clustering

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}')")
    rng = random.Random(8686)
    for trial in range(3):
        k = rng.choice([4, 6, 8])
        iters = rng.randint(1, 3)
        n_per_cell = rng.choice([3, 7, 12])
        salt = rng.choice(["balance", "fz", "r9"])
        cfg = (trial, k, iters, n_per_cell, salt)
        got = sorted(map(tuple, CL.cluster_balanced_sample(
            emb, k=k, iters=iters, n_per_cell=n_per_cell,
            salt=salt).collect()))
        want = sorted(map(tuple, con.execute(
            oracles.clustering.cluster_balanced_sample_duckdb_sql(
                path, k=k, iters=iters, n_per_cell=n_per_cell,
                salt=salt)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


def test_fuzz_grouped_hll_configs_cross_engine(spark):
    """Config fuzz over the grouped per-key HLL profile: random
    (key_col, val_col, with_exact) draws over the documents/lineitem
    tables, each value-exact vs the oracle. Seed base 9797."""
    import random

    import duckdb

    from flink_sql_security_spark.operators import sketch as SK
    import oracles.sketch

    rng = random.Random(9797)
    cases = [
        ("documents", "lang", "source"),
        ("documents", "source", "doc_id"),
        ("lineitem", "l_returnflag", "l_partkey"),
        ("lineitem", "l_linestatus", "l_orderkey"),
    ]
    for trial in range(3):
        table, key_col, val_col = rng.choice(cases)
        with_exact = rng.random() < 0.5
        cfg = (trial, table, key_col, val_col, with_exact)
        path = f"/root/testdata/sf0.001/{table}.parquet"
        df = spark.read.parquet(path)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{path}')")
        got = sorted(map(tuple, SK.grouped_distinct_hll(
            df, key_col, val_col, with_exact=with_exact).collect()))
        want = sorted(map(tuple, con.execute(
            oracles.sketch.grouped_distinct_hll_duckdb_sql(
                table, key_col, val_col,
                with_exact=with_exact)).fetchall()))
        con.close()
        assert got == want and len(got) > 0, cfg
