"""Round-3 operator families: HLL sketch, Z-order keys, CDC compaction,
and the native-pivot entry. Each is checked three ways where possible:
golden values / a Python replica, a DuckDB-parity run (the same check the
driver performs), and a plan-shape gate for the scale properties."""

import math

import duckdb
import pytest
from pyspark.sql import Window, functions as F

from flink_sql_security_spark.operators import cdc, sketch, zorder
import oracles.cdc
import oracles.zorder
import oracles.sketch


# ---------------------------------------------------------------------------
# HLL sketch
# ---------------------------------------------------------------------------

def _ints(spark, n, name="v"):
    return spark.range(n).select(F.col("id").alias(name))


def test_hll_estimate_accuracy(spark):
    # m=512 → standard error 1.04/sqrt(512) ≈ 4.6%; assert 3 sigma
    for n in (100, 1000, 20000):
        est = {r["column"]: r["n_est"]
               for r in sketch.approx_distinct_hll(
                   _ints(spark, n), ["v"], with_exact=False).collect()}
        assert abs(est["v"] - n) / n < 0.14, (n, est)


def test_hll_exact_and_rel_err_columns(spark):
    row = sketch.approx_distinct_hll(_ints(spark, 5000), ["v"]).collect()[0]
    assert row["n_exact"] == 5000
    assert row["rel_err"] == round((row["n_est"] - 5000) / 5000, 4)


def test_hll_registers_mergeable(spark):
    """Sketch(A ∪ B) == merge(Sketch(A), Sketch(B)) by register-wise max —
    the property that makes the sketch incrementally maintainable."""
    a = _ints(spark, 3000)
    b = spark.range(2000, 6000).select(F.col("id").alias("v"))
    whole = sketch.hll_registers(a.union(b), ["v"]).collect()
    merged = (
        sketch.hll_registers(a, ["v"]).union(sketch.hll_registers(b, ["v"]))
        .groupBy("column", "bucket").agg(F.max("rho").alias("rho"))
        .collect()
    )
    assert sorted(map(tuple, whole)) == sorted(map(tuple, merged))


def test_hll_duckdb_parity(spark):
    """The driver's oracle comparison, in-test: identical rows."""
    docs = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 700).alias("g"))
    docs.createOrReplaceTempView("hll_t")
    got = sorted(map(tuple, sketch.approx_distinct_hll(
        docs, ["k", "g"]).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE hll_t AS SELECT range AS k, range % 700 AS g "
                "FROM range(4000)")
    want = sorted(map(tuple, con.execute(
        oracles.sketch.approx_distinct_hll_duckdb_sql("hll_t", ["k", "g"])).fetchall()))
    assert got == want


def test_hll_linear_counting_small_range(spark):
    # n=100 << m=512 must hit the linear-counting branch and stay accurate
    row = sketch.approx_distinct_hll(_ints(spark, 100), ["v"]).collect()[0]
    assert abs(row["n_est"] - 100) <= 10


def test_hll_single_shuffle_register_build(spark):
    """The register build must be ONE required exchange (map-side-
    combined max) — the whole point of sketching at 100 TB. The r11
    small-input spread (an explicit REPARTITION that parallelizes the
    md5 kernel on 1-task scans; no-op at corpus scale) may add at most
    one more, and nothing beyond the register agg may REQUIRE a
    distribution."""
    plan = sketch.hll_registers(
        _ints(spark, 100), ["v"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2, plan
    assert plan.count("ENSURE_REQUIREMENTS") <= 1, plan


# ---------------------------------------------------------------------------
# Z-order
# ---------------------------------------------------------------------------

def _py_morton(vals, mins, maxs, bits=16):
    top = (1 << bits) - 1
    scaled = [
        ((v - mn) * top) // max(mx - mn, 1)
        for v, mn, mx in zip(vals, mins, maxs)]
    z = 0
    k = len(vals)
    for i in range(bits):
        for d, s in enumerate(scaled):
            z |= ((s >> i) & 1) << (i * k + d)
    return z


def test_zorder_matches_python_replica(spark):
    df = spark.createDataFrame(
        [(i, (i * 37) % 100, (i * 91) % 1000) for i in range(200)],
        "rid long, x long, y long")
    rows = zorder.zorder_key(df, ["x", "y"]).collect()
    xs = [r["x"] for r in rows]
    ys = [r["y"] for r in rows]
    mins, maxs = (min(xs), min(ys)), (max(xs), max(ys))
    for r in rows:
        assert r["zkey"] == _py_morton((r["x"], r["y"]), mins, maxs), r


def test_zorder_constant_dimension(spark):
    # degenerate range (max == min) must not divide by zero; dim contributes 0
    df = spark.createDataFrame([(i, 7, i) for i in range(50)],
                               "rid long, x long, y long")
    rows = zorder.zorder_key(df, ["x", "y"]).collect()
    assert all(r["zkey"] == _py_morton((7, r["y"]), (7, 0), (7, 49))
               for r in rows)


def test_zorder_locality_prunes_both_dims(spark):
    """The layout claim itself: files cut along contiguous z-ranges span a
    bounded sub-range of EVERY dimension (what parquet min/max pruning
    sees). A single-column sort gives ~full-range spread on the other
    column; z-order must beat it by a wide margin."""
    n = 1 << 12
    df = spark.createDataFrame(
        [(i, i % 64, (i * 17) % 64) for i in range(n)],
        "rid long, x long, y long")
    rows = sorted(zorder.zorder_key(df, ["x", "y"], bits=6).collect(),
                  key=lambda r: r["zkey"])
    n_files = 16
    per = len(rows) // n_files
    worst_x = worst_y = 0
    for f in range(n_files):
        chunk = rows[f * per:(f + 1) * per]
        worst_x = max(worst_x, max(r["x"] for r in chunk)
                      - min(r["x"] for r in chunk))
        worst_y = max(worst_y, max(r["y"] for r in chunk)
                      - min(r["y"] for r in chunk))
    # 16 files over a 64x64 grid → ideal spread 16 per dim; allow 2x slack
    assert worst_x <= 32 and worst_y <= 32, (worst_x, worst_y)


def test_zorder_duckdb_parity(spark):
    df = spark.createDataFrame(
        [(i, (i * 37) % 100, (i * 91) % 1000) for i in range(300)],
        "rid long, x long, y long")
    got = sorted(map(tuple, zorder.zorder_key(df, ["x", "y"])
                     .select("rid", "zkey").collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE zt AS SELECT range AS rid, "
                "(range * 37) % 100 AS x, (range * 91) % 1000 AS y "
                "FROM range(300)")
    want = sorted(map(tuple, con.execute(oracles.zorder.zorder_key_duckdb_sql(
        "zt", ["x", "y"], key_cols=["rid"])).fetchall()))
    assert got == want


def test_zorder_key_is_narrow(spark):
    """Beyond the tiny bounds agg (broadcast), the key computation adds no
    exchange over the input rows."""
    df = spark.range(1000).select(
        F.col("id").alias("x"), (F.col("id") % 7).alias("y"))
    plan = zorder.zorder_key(df, ["x", "y"]) \
        ._jdf.queryExecution().executedPlan().toString()
    # exchanges may appear under the agg/broadcast subtree only; the row
    # side must join via BroadcastNestedLoop (no shuffle of the big side)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "ShuffleExchange" not in plan.replace(
        "Exchange SinglePartition", ""), plan


# ---------------------------------------------------------------------------
# CDC compaction
# ---------------------------------------------------------------------------

_CDC_ROWS = [
    # key, seq, op, payload
    (1, 1, "U", "a1"), (1, 2, "U", "a2"), (1, 3, "U", "a3"),
    (2, 1, "U", "b1"), (2, 2, "D", None),          # deleted at latest
    (3, 5, "U", "c1"),                               # single row
    (4, 1, "D", None), (4, 2, "U", "d2"),           # re-inserted after delete
]


def test_upsert_latest_golden(spark):
    df = spark.createDataFrame(_CDC_ROWS, "k long, seq long, op string, v string")
    got = {(r["k"], r["v"]) for r in
           cdc.upsert_latest(df, ["k"], "seq", op_col="op").collect()}
    assert got == {(1, "a3"), (3, "c1"), (4, "d2")}


def test_upsert_latest_tiebreak_deterministic(spark):
    rows = [(1, 1, "U", "x"), (1, 1, "U", "y")]
    df = spark.createDataFrame(rows, "k long, seq long, op string, v string")
    got = [r["v"] for r in cdc.upsert_latest(
        df, ["k"], "seq", op_col="op", tiebreak_cols=["v"]).collect()]
    assert got == ["y"]  # max tiebreak wins


def test_upsert_latest_duckdb_parity(spark):
    df = spark.createDataFrame(_CDC_ROWS, "k long, seq long, op string, v string")
    got = sorted(map(tuple, cdc.upsert_latest(df, ["k"], "seq", op_col="op",
                                              tiebreak_cols=["v"])
                     .select("k", "seq", "v").collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE ch (k BIGINT, seq BIGINT, op VARCHAR, v VARCHAR)")
    con.executemany("INSERT INTO ch VALUES (?, ?, ?, ?)", _CDC_ROWS)
    want = sorted(map(tuple, con.execute(oracles.cdc.upsert_latest_duckdb_sql(
        "ch", ["k"], "seq", select_cols=["k", "seq", "v"], op_col="op",
        tiebreak_cols=["v"])).fetchall()))
    assert got == want


def test_upsert_latest_single_exchange_top1(spark):
    df = spark.createDataFrame(_CDC_ROWS, "k long, seq long, op string, v string")
    plan = cdc.upsert_latest(df, ["k"], "seq", op_col="op") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "WindowGroupLimit" in plan, plan  # rn<=1 pushed into the sort


# ---------------------------------------------------------------------------
# Weighted sampling (A-ES)
# ---------------------------------------------------------------------------

def test_weighted_sample_favors_heavy_rows(spark):
    """Across independent salts, rows with 10x weight must be selected
    far more often than light rows (the operator's statistical contract)."""
    from flink_sql_security_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 10.0 if i < 50 else 1.0) for i in range(500)], "id long, w double")
    heavy_hits = light_hits = 0
    for salt in ("s1", "s2", "s3"):
        picked = {r["id"] for r in
                  weighted_sample(df, 100, "w", id_col="id", salt=salt).collect()}
        heavy_hits += sum(1 for i in picked if i < 50)
        light_hits += sum(1 for i in picked if i >= 50)
    # 50 heavy (w=10) vs 450 light (w=1): heavy inclusion ~86%, light ~13%
    assert heavy_hits / (3 * 50) > 0.6
    assert light_hits / (3 * 450) < 0.25


def test_weighted_sample_deterministic_and_sized(spark):
    from flink_sql_security_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(i, float(i % 7 + 1)) for i in range(300)],
                               "id long, w double")
    a = sorted(r["id"] for r in weighted_sample(df, 50, "w", id_col="id").collect())
    b = sorted(r["id"] for r in
               weighted_sample(df.repartition(13), 50, "w", id_col="id").collect())
    assert a == b and len(a) == 50


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from flink_sql_security_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 2.0)], "id long, w double")
    assert [r["id"] for r in
            weighted_sample(df, 10, "w", id_col="id").collect()] == [3]


def test_weighted_sample_topn_no_global_sort(spark):
    """Top-n must plan as TakeOrdered (per-partition heap), not a full
    sort-exchange of the corpus."""
    from flink_sql_security_spark.operators.sampling import weighted_sample

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 9 + 1).cast("double").alias("w"))
    plan = weighted_sample(df, 10, "w", id_col="id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan, plan


# ---------------------------------------------------------------------------
# Contrastive triplets
# ---------------------------------------------------------------------------

def _triplet_fixture(spark):
    from flink_sql_security_spark.operators.contrastive import (
        contrastive_triplets,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    return contrastive_triplets(pairs, corpus, n_neg=3, buckets=8)


def test_triplets_complete_and_valid(spark):
    rows = _triplet_fixture(spark).collect()
    # every (pair, slot) filled; negatives never collide with the pair
    assert len(rows) == 9
    for r in rows:
        assert r["negative"] not in (r["anchor"], r["positive"])
        assert 0 <= r["negative"] < 40


def test_triplets_deterministic_under_repartition(spark):
    from flink_sql_security_spark.operators.contrastive import (
        contrastive_triplets,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    a = sorted(map(tuple, contrastive_triplets(
        pairs, corpus, n_neg=3, buckets=8).collect()))
    b = sorted(map(tuple, contrastive_triplets(
        pairs.repartition(7), corpus.repartition(5),
        n_neg=3, buckets=8).collect()))
    assert a == b


def test_triplets_negatives_spread(spark):
    """Different slots/anchors draw different negatives (no constant
    collapse): at least half the drawn negatives are distinct."""
    rows = _triplet_fixture(spark).collect()
    negs = [r["negative"] for r in rows]
    assert len(set(negs)) >= len(negs) // 2


def test_triplets_exclusion_falls_back_within_bucket(spark):
    """When the top-ranked bucket member IS the anchor/positive, the draw
    must fall back to the next id, not drop the slot: tiny corpus where
    every bucket contains an excluded id forces the fallback path."""
    from flink_sql_security_spark.operators.contrastive import (
        contrastive_triplets,
    )

    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    rows = contrastive_triplets(pairs, corpus, n_neg=4, buckets=1).collect()
    assert len(rows) == 4
    assert all(r["negative"] in (2, 3) for r in rows)


def test_lsh_bits_for_sizing():
    from flink_sql_security_spark.operators.similarity import lsh_bits_for

    assert lsh_bits_for(2_000) == 6
    assert lsh_bits_for(80_000) == 11
    assert lsh_bits_for(10) == 4            # floor
    assert lsh_bits_for(10**9) == 20        # ceiling clamp
    # occupancy stays ~constant: n / 2^bits within [target/2, 2*target]
    for n in (10_000, 100_000, 1_000_000):
        occ = n / (1 << lsh_bits_for(n))
        assert 20 <= occ <= 80, (n, occ)


# ---------------------------------------------------------------------------
# Epoch up-sampling
# ---------------------------------------------------------------------------

def test_epoch_upsample_copy_counts(spark):
    from flink_sql_security_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(i, 2.0 if i < 100 else 2.5) for i in range(1000)],
        "doc_id long, factor double")
    out = epoch_upsample(df, "factor").groupBy("doc_id") \
        .count().collect()
    counts = {r["doc_id"]: r["count"] for r in out}
    assert all(counts[i] == 2 for i in range(100))           # integer factor
    frac = [counts[i] for i in range(100, 1000)]
    assert set(frac) <= {2, 3}
    share3 = sum(1 for c in frac if c == 3) / len(frac)
    assert 0.4 < share3 < 0.6                                 # ~frac(2.5)


def test_epoch_upsample_deterministic_and_indexed(spark):
    from flink_sql_security_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(i, 1.7) for i in range(300)], "doc_id long, factor double")
    a = sorted(map(tuple, epoch_upsample(df, "factor").collect()))
    b = sorted(map(tuple, epoch_upsample(
        df.repartition(11), "factor").collect()))
    assert a == b
    # copy_i is a dense 0..n-1 index per doc
    per = {}
    for doc_id, _, ci in a:
        per.setdefault(doc_id, []).append(ci)
    assert all(sorted(v) == list(range(len(v))) for v in per.values())


def test_epoch_upsample_drops_nonpositive_and_is_narrow(spark):
    from flink_sql_security_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, 1.0)], "doc_id long, factor double")
    out = epoch_upsample(df, "factor")
    assert [r["doc_id"] for r in out.collect()] == [3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

# ---------------------------------------------------------------------------
# Bloom filter (round-4 family)
# ---------------------------------------------------------------------------

def _toks(spark, vals, name="v"):
    return spark.createDataFrame([(v,) for v in vals], [name])


def test_bloom_no_false_negatives_even_tiny(spark):
    """Core guarantee: every inserted value probes positive, at ANY size —
    here a deliberately overloaded 64-bit filter."""
    members = [f"m{i}" for i in range(40)]
    bits = sketch.bloom_bits(_toks(spark, members), "v", n_bits=64, k=3)
    probed = sketch.bloom_probe(
        bits, _toks(spark, members, "x").withColumn("id", F.col("x")),
        "id", "x", n_bits=64, k=3)
    assert all(r["bloom_maybe"] for r in probed.collect())


def test_bloom_false_positive_rate_bounded(spark):
    """FP rate on non-members tracks (1-e^{-kn/m})^k; assert within 3× of
    theory on a 1024-bit filter with 80 members (deterministic — md5)."""
    members = [f"m{i}" for i in range(80)]
    others = [f"o{i}" for i in range(2000)]
    m, k = 1024, 7
    bits = sketch.bloom_bits(_toks(spark, members), "v", n_bits=m, k=k)
    probed = sketch.bloom_probe(
        bits, _toks(spark, others, "x").withColumn("id", F.col("x")),
        "id", "x", n_bits=m, k=k)
    fp = sum(1 for r in probed.collect() if r["bloom_maybe"])
    theory = (1 - math.exp(-k * 80 / m)) ** k
    assert fp / 2000 <= 3 * theory + 0.01, (fp, theory)


def test_bloom_bits_mergeable(spark):
    a, b = [f"a{i}" for i in range(30)], [f"b{i}" for i in range(30)]
    whole = sketch.bloom_bits(_toks(spark, a + b), "v", 512, 5).collect()
    merged = (sketch.bloom_bits(_toks(spark, a), "v", 512, 5)
              .union(sketch.bloom_bits(_toks(spark, b), "v", 512, 5))
              .distinct().collect())
    assert sorted(r["bit"] for r in whole) == sorted(r["bit"] for r in merged)


def test_bloom_decon_duckdb_parity(spark):
    rows = [(i, f"doc text number {i % 7}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.createOrReplaceTempView("bl_t")
    held = df.where("doc_id < 10")
    got = sorted(map(tuple, sketch.bloom_decontaminate(df, held).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE bl_t AS SELECT range AS doc_id, "
                "'doc text number ' || (range % 7) AS text FROM range(60)")
    want = sorted(map(tuple, con.execute(oracles.sketch.bloom_decontaminate_duckdb_sql(
        "SELECT * FROM bl_t", "SELECT * FROM bl_t WHERE doc_id < 10")).fetchall()))
    assert got == want
    # normalized texts repeat mod 7 → docs ≥ 10 with text-class < 3 are
    # exact members too (no false negatives), and FP column isolates the rest
    as_dict = {r[0]: r for r in got}
    assert as_dict[14][1] and as_dict[14][2]          # 14 % 7 = 0 < 3: member
    assert not as_dict[13][2] or as_dict[13][1]       # never FN


def test_bloom_probe_is_broadcast_join(spark):
    """The probe side must never shuffle into a sort-merge join: the filter
    state broadcasts, the only exchange is the reduce on id."""
    df = _toks(spark, [f"v{i}" for i in range(50)], "x") \
        .withColumn("id", F.col("x"))
    bits = sketch.bloom_bits(df.select(F.col("x").alias("v")), "v", 512, 5)
    plan = sketch.bloom_probe(bits, df, "id", "x", 512, 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# Count-Min sketch (round-4 family)
# ---------------------------------------------------------------------------

def _freq_df(spark, spec):
    """spec: {token: count} → one row per occurrence."""
    rows = [(t,) for t, n in spec.items() for _ in range(n)]
    return spark.createDataFrame(rows, ["v"])


def test_cms_exact_at_generous_width(spark):
    spec = {"a": 50, "b": 20, "c": 7, "d": 1}
    df = _freq_df(spark, spec)
    counters = sketch.cms_counters(df, "v", width=4096, depth=4)
    est = {r["v"]: r["n_est"] for r in sketch.cms_estimate(
        counters, df.distinct(), "v", width=4096, depth=4).collect()}
    assert est == spec  # no collisions at width >> distinct


def test_cms_one_sided_error_at_tiny_width(spark):
    """Collisions at width=8 must only ever OVERcount — the CMS guarantee."""
    spec = {f"t{i}": i + 1 for i in range(30)}
    df = _freq_df(spark, spec)
    counters = sketch.cms_counters(df, "v", width=8, depth=3)
    est = {r["v"]: r["n_est"] for r in sketch.cms_estimate(
        counters, df.distinct(), "v", width=8, depth=3).collect()}
    assert all(est[t] >= n for t, n in spec.items())
    assert any(est[t] > n for t, n in spec.items())  # width 8 must collide


def test_cms_counters_mergeable(spark):
    a = _freq_df(spark, {"x": 5, "y": 3})
    b = _freq_df(spark, {"y": 4, "z": 2})
    whole = sketch.cms_counters(a.union(b), "v", 64, 4).collect()
    merged = (sketch.cms_counters(a, "v", 64, 4)
              .union(sketch.cms_counters(b, "v", 64, 4))
              .groupBy("row_j", "pos").agg(F.sum("cnt").alias("cnt")).collect())
    assert sorted(map(tuple, whole)) == sorted(map(tuple, merged))


def test_cms_token_counts_duckdb_parity(spark):
    rows = [(i, "alpha beta " + ("gamma " * (i % 3))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(map(tuple, sketch.cms_token_counts(
        df, min_count=10, width=128, depth=4).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE cms_t AS SELECT range AS doc_id, "
                "'alpha beta ' || repeat('gamma ', range % 3) AS text "
                "FROM range(40)")
    want = sorted(map(tuple, con.execute(oracles.sketch.cms_token_counts_duckdb_sql(
        "cms_t", min_count=10, width=128, depth=4)).fetchall()))
    assert got == want


def test_cms_counter_build_single_exchange(spark):
    plan = sketch.cms_counters(
        _freq_df(spark, {"a": 3, "b": 2}), "v", 64, 4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_double_hash_cross_engine_on_adversarial_strings(spark):
    """The md5 double-hash positions must agree between Spark and DuckDB
    for ANY string — unicode, emoji, empty, whitespace-only, quotes,
    very long — since every bloom/CMS verdict rests on it. (Both engines
    hash the UTF-8 bytes; this pins that assumption.)"""
    vals = ["", " ", "  \t ", "plain", "ünïcodé", "汉字文本", "🙂🙃",
            "mixed 汉 ünïcodé 🙂", "line\nbreak", "tab\tsep",
            "quote'squote", 'double"quote', "back\\slash",
            "x" * 5000, "🙂" * 500, "ß", "İstanbul", " nbsp"]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    h1s, h2s = sketch._dh_cols("v", 4096)
    got = {r["v"]: (r["h1"], r["h2"]) for r in df.selectExpr(
        "v", f"{h1s} AS h1", f"{h2s} AS h2").collect()}
    con = duckdb.connect()
    h1d, h2d = oracles.sketch._dh_duckdb("v", 4096)
    for v in vals:
        want = con.execute(
            f"SELECT {h1d}, {h2d} FROM (SELECT ? AS v)", [v]).fetchone()
        assert got[v] == want, (v, got[v], want)


# ---------------------------------------------------------------------------
# Corpus snapshot diff (operators/cdc.py::snapshot_diff)
# ---------------------------------------------------------------------------

def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame([
        (1, "stable content"),
        (2, "will be rewritten"),
        (3, "will be removed"),
        (4, "CASE and   spacing only"),       # normalization-equal in new
    ], ["doc_id", "text"])
    new = spark.createDataFrame([
        (1, "stable content"),
        (2, "totally rewritten"),
        (4, "case AND spacing ONLY".lower()), # same normalized content
        (5, "brand new doc"),
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r["status"] for r in cdc.snapshot_diff(
        old, new, ["doc_id"], "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "added"}
    # normalize=False makes the spacing difference a real change
    strict = {r["doc_id"]: r["status"] for r in cdc.snapshot_diff(
        old, new, ["doc_id"], "text", normalize=False).collect()}
    assert strict[4] == "changed"


def test_snapshot_diff_duckdb_parity(spark):
    old_rows = [(i, f"text number {i % 9}") for i in range(50)]
    new_rows = [(i, f"text number {(i % 9) + (1 if i % 5 == 0 else 0)}")
                for i in range(10, 60)]
    old = spark.createDataFrame(old_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    got = sorted(map(tuple, cdc.snapshot_diff(
        old, new, ["doc_id"], "text").collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE dold AS SELECT range AS doc_id, "
                "'text number ' || (range % 9) AS text FROM range(50)")
    con.execute("CREATE TABLE dnew AS SELECT range AS doc_id, "
                "'text number ' || ((range % 9) + CASE WHEN range % 5 = 0 "
                "THEN 1 ELSE 0 END) AS text FROM range(10, 60)")
    want = sorted(map(tuple, con.execute(oracles.cdc.snapshot_diff_duckdb_sql(
        "SELECT * FROM dold", "SELECT * FROM dnew",
        ["doc_id"], "text")).fetchall()))
    assert got == want


# ---------------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------------

def test_hist_quantiles_accuracy_bounded_by_bin_width(spark):
    # uniform 0..9999: bin width = range/256 ≈ 39; estimates must sit
    # within one bin width of the exact quantiles
    df = spark.range(10_000).select(F.col("id").cast("double").alias("v"))
    rows = {r["p"]: (r["q_est"], r["q_exact"]) for r in
            sketch.histogram_quantiles(df, "v", with_exact=True).collect()}
    width = 9999.0 / 256
    for p, (est, exact) in rows.items():
        assert abs(est - exact) <= width, (p, est, exact)


def test_hist_counts_mergeable_binwise_sum(spark):
    # same grid ⇔ same (lo, hi): every shard carries BOTH global-range
    # sentinels, the documented precondition for cross-shard merges
    a = spark.createDataFrame(
        [(float(i),) for i in range(0, 500)] + [(0.0,), (1000.0,)], ["v"])
    b = spark.createDataFrame(
        [(float(i),) for i in range(500, 1000)] + [(0.0,), (1000.0,)], ["v"])
    whole = sketch.histogram_counts(a.union(b), "v", 64).collect()
    merged = (sketch.histogram_counts(a, "v", 64)
              .union(sketch.histogram_counts(b, "v", 64))
              .groupBy("bin", "lo", "hi").agg(F.sum("cnt").alias("cnt"))
              .collect())
    assert sorted(map(tuple, whole)) == sorted(map(tuple, merged))


def test_hist_quantiles_constant_column(spark):
    df = spark.createDataFrame([(42.0,)] * 10, ["v"])
    rows = sketch.histogram_quantiles(df, "v", ps=(0.5,)).collect()
    assert len(rows) == 1 and rows[0]["q_est"] == 42.0  # hi == lo branch


def test_hist_counts_single_exchange(spark):
    df = spark.range(100).select(F.col("id").cast("double").alias("v"))
    plan = sketch.histogram_counts(df, "v") \
        ._jdf.queryExecution().executedPlan().toString()
    # ONE data exchange (the bin groupBy); the bounds agg is its own tiny
    # subquery broadcast — no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan, plan


def test_bloom_probe_duplicate_ids_no_false_negative(spark):
    """count==k would turn a duplicated probe id into a false negative;
    the min-over-hits form must keep members positive."""
    members = [f"m{i}" for i in range(20)]
    bits = sketch.bloom_bits(_toks(spark, members), "v", 512, 5)
    dup = spark.createDataFrame(
        [("d", "m3"), ("d", "m3"), ("e", "m4")], ["id", "x"])
    got = {r["id"]: r["bloom_maybe"] for r in sketch.bloom_probe(
        bits, dup, "id", "x", 512, 5).collect()}
    assert got == {"d": True, "e": True}
    # a duplicated NON-member id stays negative
    dup2 = spark.createDataFrame(
        [("f", "nope"), ("f", "nope")], ["id", "x"])
    got2 = {r["id"]: r["bloom_maybe"] for r in sketch.bloom_probe(
        bits, dup2, "id", "x", 512, 5).collect()}
    assert got2["f"] in (False,) or got2["f"] is False or not got2["f"]


def test_bloom_decon_null_text_rows_kept(spark):
    df = spark.createDataFrame(
        [(1, "member text"), (2, None), (3, "other text")],
        "doc_id long, text string")
    held = df.where("doc_id = 1")
    got = {r["doc_id"]: tuple(r)[1:] for r in
           sketch.bloom_decontaminate(df, held).collect()}
    assert set(got) == {1, 2, 3}            # every corpus row verdicted
    assert got[1] == (True, True, False)
    assert got[2] == (False, False, False)  # NULL text: not a member
    # and the oracle agrees row-for-row
    con = duckdb.connect()
    con.execute("CREATE TABLE bn_t(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO bn_t VALUES (1,'member text'),(2,NULL),"
                "(3,'other text')")
    want = sorted(map(tuple, con.execute(oracles.sketch.bloom_decontaminate_duckdb_sql(
        "SELECT * FROM bn_t", "SELECT * FROM bn_t WHERE doc_id = 1")).fetchall()))
    spark_rows = sorted((k,) + v for k, v in got.items())
    assert spark_rows == want


def test_snapshot_diff_null_content_is_a_value(spark):
    old = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, None), (2, None), (4, None)], "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in cdc.snapshot_diff(
        old, new, ["doc_id"], "text").collect()}
    # NULL==NULL content: unchanged; NULL vs 'x': changed; one-sided
    # presence stays added/removed regardless of NULL content
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_grouped_distinct_hll_contract(spark):
    """Per-key HLL: estimates within the m=512 error band of the exact
    per-key distinct counts, register merge = sketch of the union, and
    bit-equal vs the DuckDB oracle."""
    import duckdb

    from flink_sql_security_spark.operators import sketch as SK
    import oracles.sketch

    path = "/root/testdata/sf0.01/events.parquet"
    ev = spark.read.parquet(path)
    out = SK.grouped_distinct_hll(ev, "event_type", "user_id").collect()
    assert len(out) == 5
    for r in out:
        assert abs(r["rel_err"]) < 0.1, r  # ~4.6% expected at m=512

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{path}')")
    want = sorted(map(tuple, con.execute(
        oracles.sketch.grouped_distinct_hll_duckdb_sql(
            "events", "event_type", "user_id")).fetchall()))
    assert sorted(map(tuple, out)) == want

    # partitioning invariance (register max is order-independent)
    again = sorted(map(tuple, SK.grouped_distinct_hll(
        ev.repartition(7), "event_type", "user_id").collect()))
    assert again == sorted(map(tuple, out))


# ----------------------------------------------------------------- scd2

def test_scd2_versions_and_intervals(spark):
    """Update chain with a delete: every upsert becomes a version, the
    delete closes the last interval and emits no row, is_current only
    on live keys."""
    from flink_sql_security_spark.operators.cdc import scd2_history

    rows = [(1, 1, "U", "a1"), (1, 3, "U", "a3"), (1, 2, "U", "a2"),
            (2, 1, "U", "b1"), (2, 2, "D", None),
            (3, 5, "U", "c5")]
    df = spark.createDataFrame(rows, "k long, seq long, op string, v string")
    out = sorted(map(tuple, scd2_history(
        df, ["k"], "seq", ["v"], op_col="op").collect()))
    assert out == [
        (1, "a1", 1, 2, False),
        (1, "a2", 2, 3, False),
        (1, "a3", 3, None, True),
        (2, "b1", 1, 2, False),   # closed by the delete, not current
        (3, "c5", 5, None, True),
    ]


def test_scd2_latest_agrees_with_upsert_latest(spark):
    """The is_current slice of SCD2 must equal upsert_latest — two
    formulations of 'current state' may never diverge."""
    from flink_sql_security_spark.operators.cdc import (
        scd2_history, upsert_latest)

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    cur = sorted(map(tuple, scd2_history(
        ev, ["user_id"], "ts", ["value"], op_col="event_type",
        delete_op="error", tiebreak_cols=["event_id"])
        .where("is_current")
        .select("user_id", "value").collect()))
    latest = sorted(map(tuple, upsert_latest(
        ev, ["user_id"], "ts", op_col="event_type", delete_op="error",
        tiebreak_cols=["event_id"]).select("user_id", "value").collect()))
    assert cur == latest and len(cur) > 0


def test_fuzz_scd2_cross_engine(spark):
    """Config fuzz: random changelogs (keys, ops, tiebreak collisions),
    bit-equal vs the DuckDB oracle. Seed 27183."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.cdc import scd2_history
    from oracles.cdc import scd2_history_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(27183)
    for trial in range(4):
        n = rng.choice([10, 30])
        rows = []
        for i in range(n):
            rows.append((rng.randrange(4),
                         rng.randrange(8),      # seq collisions likely
                         i,                      # unique tiebreak
                         rng.choice(["U", "U", "U", "D"]),
                         f"v{i}"))
        cfg = (trial, n)
        df = spark.createDataFrame(
            rows, "k long, seq long, tb long, op string, v string")
        got = sorted(map(tuple, scd2_history(
            df, ["k"], "seq", ["v"], op_col="op",
            tiebreak_cols=["tb"]).collect()))
        vals = ", ".join(f"({k}, {s}, {t}, '{o}', '{v}')"
                         for k, s, t, o, v in rows)
        want = sorted(map(tuple, con.execute(scd2_history_duckdb_sql(
            f"(SELECT * FROM (VALUES {vals}) AS t(k, seq, tb, op, v))",
            ["k"], "seq", ["v"], op_col="op",
            tiebreak_cols=["tb"])).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


def test_cdc_oracle_emitters_guard_delete_op():
    """delete_op embeds as a quoted SQL literal in the oracle emitters
    — the funnel-style escape guard rejects quote smuggling (ADVICE
    r09)."""
    import pytest

    from oracles.cdc import scd2_history_duckdb_sql, upsert_latest_duckdb_sql

    for bad in ("D'; DROP TABLE x; --", "a\\b", "x;y"):
        with pytest.raises(ValueError, match="delete_op"):
            upsert_latest_duckdb_sql("t", ["k"], "seq", ["k", "v"],
                                     op_col="op", delete_op=bad)
        with pytest.raises(ValueError, match="delete_op"):
            scd2_history_duckdb_sql("t", ["k"], "seq", ["v"],
                                    op_col="op", delete_op=bad)
