"""Binary (sign-bit) quantization + hamming search (operators/binary.py).

Cross-engine value-exact checks against DuckDB, packing invariants,
plan-shape guards, and the prefilter→rerank recall contract.
"""

import duckdb
import pytest

from flink_sql_security_spark.operators import binary as B
import oracles.binary

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{EMB}')")
    yield c
    c.close()


def rows(df):
    return sorted(map(tuple, df.collect()))


def fetch(con, sql):
    return sorted(map(tuple, con.execute(sql).fetchall()))


def test_codes_cross_engine_exact(emb, con):
    assert rows(B.binary_codes(emb)) == fetch(con, oracles.binary.binary_codes_duckdb_sql())


def test_codes_pack_semantics(emb):
    """Word j bit b set iff embedding[32j+b] > 0 — recheck in Python."""
    raw = {r["vec_id"]: r["embedding"]
           for r in emb.where("vec_id < 10").collect()}
    for r in B.binary_codes(emb.where("vec_id < 10")).collect():
        v = raw[r["vec_id"]]
        for j, word in enumerate((r["w0"], r["w1"])):
            want = sum(1 << b for b in range(32)
                       if float(v[32 * j + b]) > 0.0)
            assert word == want
            assert 0 <= word < (1 << 32)   # bits 0..31 only: no sign wrap


def test_hamming_topk_cross_engine_exact(emb, con):
    got = rows(B.hamming_topk(emb, emb.where("vec_id < 6"), k=4))
    want = fetch(con, oracles.binary.hamming_topk_duckdb_sql(query_pred="vec_id < 6", k=4))
    assert got == want and len(got) == 6 * 4


def test_hamming_rerank_cross_engine_exact(emb, con):
    got = rows(B.hamming_topk(emb, emb.where("vec_id < 6"), k=4, rerank=3))
    want = fetch(con, oracles.binary.hamming_topk_duckdb_sql(
        query_pred="vec_id < 6", k=4, rerank=3))
    assert got == want and len(got) == 6 * 4


def test_hamming_excludes_self_and_orders_ties(emb):
    out = B.hamming_topk(emb, emb.where("vec_id < 4"), k=3).collect()
    per_q = {}
    for r in out:
        assert r["n_id"] != r["q_id"]
        per_q.setdefault(r["q_id"], []).append((r["rank"], r["hamming"],
                                                r["n_id"]))
    for q, lst in per_q.items():
        lst.sort()
        hams = [(h, n) for _, h, n in lst]
        assert hams == sorted(hams), q   # asc hamming, n_id tiebreak


def test_rerank_improves_recall(spark, emb):
    """The production contract: widening the hamming shortlist toward
    the corpus recovers exact-cosine recall (rerank=∞ ≡ brute force)."""
    from flink_sql_security_spark.operators import similarity as S

    q = emb.where("vec_id < 8")
    truth = {}
    for r in S.cosine_topk(emb, q, k=5).collect():
        truth.setdefault(r["q_id"], set()).add(r["n_id"])

    def recall(rr):
        got = {}
        for r in B.hamming_topk(emb, q, k=5, rerank=rr).collect():
            got.setdefault(r["q_id"], set()).add(r["n_id"])
        hit = sum(len(truth[qi] & got.get(qi, set())) for qi in truth)
        return hit / sum(len(v) for v in truth.values())

    r2, r_all = recall(2), recall(100)   # 100·5=500 = whole corpus
    assert r_all == 1.0                  # full-widening == exact
    assert r2 <= r_all


def test_scan_plan_shape(emb):
    """Binary scan: broadcast NLJ over code words, zero Python nodes,
    exactly one exchange (the per-query top-k window)."""
    import re

    plan = (B.hamming_topk(emb, emb.where("vec_id < 6"), k=4, rerank=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    # r11: 3 = the top-k window's q_id exchange + the two conditional
    # spreads (corpus code-pack, rerank unit-norm) that parallelize the
    # heavy narrow kernels off a single-row-group scan; both spreads
    # are no-ops on corpus-sized inputs (the at-scale count stays 1)
    assert len(re.findall(r"Exchange (hash|range)", plan)) == 3


def test_odd_dim_packing(spark):
    """d not a multiple of 32: the tail word holds only d mod 32 bits."""
    df = spark.createDataFrame(
        [(0, [1.0] * 40), (1, [-1.0] * 40)], "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["w0"], r["w1"])
           for r in B.binary_codes(df, d=40).collect()}
    assert out[0] == ((1 << 32) - 1, (1 << 8) - 1)
    assert out[1] == (0, 0)


def test_null_and_nan_bit_semantics(spark):
    """Documented contract: NULL elements clear their bit, NaN elements
    set it (both engines order NaN above all values) — verified on both
    engines so the prefilter's degradation mode stays parity-safe."""
    import duckdb

    df = spark.createDataFrame(
        [(0, [float("nan")] + [None] + [-1.0] * 38)],
        "vec_id long, embedding array<float>")
    r = B.binary_codes(df, d=40).collect()[0]
    assert (r["w0"], r["w1"]) == (1, 0)   # NaN -> bit 0 set, NULL/neg clear
    con = duckdb.connect()
    tail = ", ".join(["-1.0"] * 38)
    con.execute("CREATE VIEW embeddings AS SELECT 0::BIGINT AS vec_id, "
                f"['nan'::DOUBLE, NULL, {tail}] AS embedding")
    got = con.execute(oracles.binary.binary_codes_duckdb_sql(d=40)).fetchall()
    con.close()
    assert got == [(0, 1, 0)]


# ---------------------------------------------------------------------------
# IVF-pruned binary search
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def coarse(emb):
    from flink_sql_security_spark.operators import pq as PQ

    return PQ.coarse_train(emb, n_cells=8, iters=3)


def test_ivf_hamming_cross_engine_exact(emb, con, coarse):
    for rr in (0, 3):
        got = rows(B.ivf_hamming_topk(emb, emb.where("vec_id < 5"),
                                      coarse, k=4, n_probe=3, rerank=rr))
        want = fetch(con, oracles.binary.ivf_hamming_topk_duckdb_sql(
            EMB, query_pred="vec_id < 5", k=4, n_cells=8, n_probe=3,
            rerank=rr, iters=3))
        assert got == want and len(got) == 5 * 4, rr


def test_ivf_hamming_scans_only_probed_cells(emb, coarse):
    """The pruning contract: the scan's candidate count equals the sum
    of probed-cell sizes (minus self rows), never the full n·|Q|."""
    from pyspark.sql import functions as F

    from flink_sql_security_spark.operators.pq import probe_cells
    import numpy as np

    n_probe = 3
    codes = B.binary_codes_with_cell(emb, coarse)
    sizes = {r["cell"]: r["n"] for r in
             codes.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    cell_of = {r["vec_id"]: r["cell"] for r in codes.collect()}
    qrows = emb.where("vec_id < 5").collect()
    expected = 0
    for q in qrows:
        probed = probe_cells(np.asarray(q["embedding"], np.float64),
                              coarse, n_probe)
        expected += sum(sizes[c] for c in probed)
        if cell_of[q["vec_id"]] in probed:
            expected -= 1                     # self row excluded
    # rebuild the internal scan (rank filter removed) and count it
    full = B.ivf_hamming_topk(emb, emb.where("vec_id < 5"), coarse,
                              k=10**6, n_probe=n_probe)
    assert full.count() == expected
    assert expected < 5 * 500                 # strictly pruned


def test_ivf_hamming_full_probe_equals_flat_scan(emb, coarse):
    """n_probe = n_cells ≡ the unpruned hamming_topk (same candidates,
    same ranking)."""
    got = rows(B.ivf_hamming_topk(emb, emb.where("vec_id < 5"), coarse,
                                  k=4, n_probe=8))
    flat = rows(B.hamming_topk(emb, emb.where("vec_id < 5"), k=4))
    assert got == flat


def test_ivf_hamming_rejects_bad_queries(spark, emb, coarse):
    bad = spark.createDataFrame(
        [(0, [float("nan")] * 64)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="NaN query"):
        B.ivf_hamming_topk(emb, bad, coarse, k=3).collect()


def test_ivf_index_raises_on_null_vector(spark, coarse):
    """Review fix: a NULL element would NULL the cell and silently drop
    the row from every probe — the IVF index must fail loudly instead
    (the flat prefilter stays NULL-tolerant by documented contract)."""
    bad = spark.createDataFrame(
        [(0, [0.5] * 63 + [None])], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="never silently drop"):
        B.binary_codes_with_cell(bad, coarse).collect()
    # top-level NULL vector: size(NULL) is NULL under ANSI mode, so the
    # guard must test IS NULL FIRST or the CASE falls through silently
    # (review-confirmed miss)
    bad2 = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="never silently drop"):
        B.binary_codes_with_cell(bad2, coarse, d=64).collect()
    # and dim inference on an all-NULL column is loud, not a TypeError
    with pytest.raises(Exception, match="pass d= explicitly"):
        B.binary_codes(bad2)


def test_ivf_oracle_empty_query_set(con):
    """Review fix: an empty probe set must express valid SQL and return
    the empty answer, not a parse error."""
    got = con.execute(oracles.binary.ivf_hamming_topk_duckdb_sql(
        EMB, query_pred="vec_id < 0", k=3, n_cells=4, n_probe=2,
        iters=2)).fetchall()
    assert got == []


def test_ivf_probe_broadcast_gate_paths_identical(emb, coarse, monkeypatch):
    """ADVICE fix: the probe table must not broadcast unconditionally.
    Forcing the scale-safe shuffle join (BROADCAST_LIMIT_BYTES=0) must
    produce the identical result, and its plan must not contain a
    broadcast exchange for the probe side."""
    kw = dict(k=4, n_probe=3)
    on = B.ivf_hamming_topk(emb, emb.where("vec_id < 5"), coarse, **kw)
    auto = rows(on)
    with monkeypatch.context() as m:
        m.setattr(B, "BROADCAST_LIMIT_BYTES", 0)
        off = B.ivf_hamming_topk(emb, emb.where("vec_id < 5"), coarse,
                                 **kw)
    assert rows(off) == auto
    # no explicit broadcast HINT on the probe side (AQE may still pick a
    # runtime broadcast from actual sizes — that's fine and wanted; the
    # bug was the unconditional hint that fires even when stats say no)
    plan = off._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, plan
    # the proven-small query side takes the broadcast hint
    assert "ResolvedHint" in \
        on._jdf.queryExecution().analyzed().toString()


def test_ivf_probe_gate_unknown_size_is_scale_safe(emb, coarse, monkeypatch):
    """Unknown query-side size (here: forced via a tiny limit) must take
    the non-broadcast path — the _auto_broadcast contract."""
    from flink_sql_security_spark.operators.binary import (
        _gate_probe_broadcast)

    q = emb.where("vec_id < 5")
    assert _gate_probe_broadcast(q, "vec_id", "embedding", n_probe=3,
                                 n_words=2) is True
    monkeypatch.setattr(B, "BROADCAST_LIMIT_BYTES", 1)
    assert _gate_probe_broadcast(q, "vec_id", "embedding", n_probe=3,
                                 n_words=2) is False


def test_hamming_auto_rerank_cross_engine_exact(emb, con):
    """'auto' shortlist cutoff (max(8k, ceil(5*sqrt(cand)))) is computed
    in-plan on BOTH engines — values stay strictly hash-equal."""
    got = rows(B.hamming_topk(emb, emb.where("vec_id < 6"), k=4,
                              rerank="auto"))
    want = fetch(con, oracles.binary.hamming_topk_duckdb_sql(
        query_pred="vec_id < 6", k=4, rerank="auto"))
    assert got == want and len(got) == 6 * 4


def test_ivf_hamming_auto_rerank_cross_engine_exact(emb, con, coarse):
    got = rows(B.ivf_hamming_topk(emb, emb.where("vec_id < 6"), coarse,
                                  k=4, n_probe=3, rerank="auto"))
    want = fetch(con, oracles.binary.ivf_hamming_topk_duckdb_sql(
        EMB, query_pred="vec_id < 6", k=4, n_cells=8, n_probe=3,
        rerank="auto"))
    assert got == want and len(got) == 6 * 4


def test_auto_rerank_pins_recall_at_two_corpus_sizes(spark):
    """The reason 'auto' exists: a FIXED shortlist multiplier decays as
    the corpus grows (rerank=8 measured 0.50 recall at n=2000), while
    the sqrt-sized shortlist holds recall >= 0.8 at BOTH test corpus
    sizes. Pins the rule's outcome, not just its formula."""
    from flink_sql_security_spark.operators import similarity as SIM

    for sf, n in (("0.01", 500), ("0.1", 2000)):
        e = spark.read.parquet(f"/root/testdata/sf{sf}/embeddings.parquet")
        q = e.where("vec_id < 20")
        cos = {(r["q_id"], r["n_id"])
               for r in SIM.cosine_topk(e, q, k=5).collect()}
        auto = {(r["q_id"], r["n_id"])
                for r in B.hamming_topk(e, q, k=5, rerank="auto").collect()}
        recall = len(cos & auto) / len(cos)
        assert recall >= 0.8, f"sf{sf} (n={n}): auto recall {recall}"


def test_rerank_rejects_bad_string(emb):
    with pytest.raises(ValueError):
        B.hamming_topk(emb, emb.where("vec_id < 2"), k=3,
                       rerank="bogus").collect()


def test_rerank_rejects_all_non_auto_strings_at_entry(emb, coarse):
    """Validation happens ONCE at operator entry (check_rerank): a
    numeric string like "4" must raise the clear message instead of
    being silently coerced by int(), and non-numeric strings must get
    the same message instead of a bare int() ValueError — on every
    rerank-taking surface (flat + IVF, Spark + oracle builders)."""
    q = emb.where("vec_id < 2")
    for bad in ("4", "abc", ""):
        with pytest.raises(ValueError, match="rerank must be"):
            B.hamming_topk(emb, q, k=3, rerank=bad)
        with pytest.raises(ValueError, match="rerank must be"):
            B.ivf_hamming_topk(emb, q, coarse, k=3, n_probe=2,
                               rerank=bad)
        with pytest.raises(ValueError, match="rerank must be"):
            oracles.binary.hamming_topk_duckdb_sql(query_pred="vec_id < 2", k=3,
                                                   rerank=bad)
        with pytest.raises(ValueError, match="rerank must be"):
            oracles.binary.ivf_hamming_topk_duckdb_sql(
                "/root/testdata/sf0.001/embeddings.parquet",
                query_pred="vec_id < 2", k=3, rerank=bad)


def test_fuzz_binary_configs_cross_engine(spark):
    """Config fuzz for the binary tier: random (d, k, rerank — int, 0
    and 'auto' — n_probe, flat-vs-IVF) draws, each verified value-exact
    against the DuckDB oracle end to end. Deterministic seeds (base
    5353); rotate alongside the SQL fuzz bursts."""
    import random

    from flink_sql_security_spark.operators import pq as PQ

    rng = random.Random(5353)
    for trial in range(5):
        d = rng.choice([32, 64])
        k = rng.randint(3, 6)
        rerank = rng.choice([0, 2, 4, "auto"])
        n_q = rng.choice([4, 6])
        ivf = rng.random() < 0.5
        cfg = (trial, d, k, rerank, n_q, ivf)
        pred = f"vec_id < {n_q}"
        if ivf:
            n_cells = rng.choice([4, 8])
            n_probe = rng.randint(2, n_cells)
            emb = spark.read.parquet(EMB)
            coarse = PQ.coarse_train(emb, n_cells=n_cells, iters=2)
            got = rows(B.ivf_hamming_topk(
                emb, emb.where(pred), coarse, k=k, n_probe=n_probe,
                rerank=rerank, d=64))
            con2 = duckdb.connect()
            con2.execute(
                f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{EMB}')")
            want = fetch(con2, oracles.binary.ivf_hamming_topk_duckdb_sql(
                EMB, query_pred=pred, k=k, n_cells=n_cells,
                n_probe=n_probe, rerank=rerank, iters=2, d=64))
            con2.close()
        else:
            emb = spark.read.parquet(EMB)
            got = rows(B.hamming_topk(emb, emb.where(pred), k=k,
                                      rerank=rerank, d=d))
            con2 = duckdb.connect()
            con2.execute(
                f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{EMB}')")
            want = fetch(con2, oracles.binary.hamming_topk_duckdb_sql(
                query_pred=pred, k=k, rerank=rerank, d=d))
            con2.close()
        assert got == want and len(got) == n_q * k, cfg
