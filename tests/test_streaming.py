"""Streaming parity tests: policies over readStream sources, collect-N via
memory sink (fetchRows parity), watermarked windowed aggregation.

The reference's own streaming execution tests are ``@Ignore``d (need live
MySQL); ours run against file-stream fixtures in-session.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_sql_security_spark import (
    DataMaskPolicy, PolicyManager, RowFilterPolicy, SecurityContext,
)
from flink_sql_security_spark.streaming import (
    fetch_stream_rows, rate_source_demo, secure_stream, windowed_event_counts,
)


@pytest.fixture(scope="module")
def stream_dir(spark):
    """orders fixture written as a parquet directory for file-stream reads."""
    from conftest import register_demo_tables
    register_demo_tables(spark)
    path = tempfile.mkdtemp(prefix="fss_stream_orders")
    spark.table("orders").write.mode("overwrite").parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture()
def ctx(demo_tables):
    ctx = SecurityContext(demo_tables, PolicyManager())
    ctx.add_policy(RowFilterPolicy("user_A", "orders", "region = 'beijing'"))
    ctx.add_policy(DataMaskPolicy("user_A", "orders", "customer_name", "MASK"))
    return ctx


def test_secure_stream_filters_and_masks(spark, ctx, stream_dir):
    stream = (
        spark.readStream.schema(spark.table("orders").schema)
        .parquet(stream_dir)
    )
    secured = secure_stream(ctx, "user_A", stream, "orders")
    assert secured.isStreaming
    rows = fetch_stream_rows(secured.select("order_id", "customer_name", "region"), size=10)
    assert {tuple(r) for r in rows} == {
        (10001, "Xxxx", "beijing"),
        (10002, "Xxxxx", "beijing"),
    }


def test_sql_string_rewrite_over_streaming_view(spark, ctx, stream_dir):
    # the reference's actual execution model: rewrite the SQL *string*, hand
    # it to the engine in streaming mode (SecurityContext.java:106-108,
    # 190-212). Spark parity: a streaming temp view behind the same table
    # name — the identical rewrite output plans as an unbounded query.
    stream = (
        spark.readStream.schema(spark.table("orders").schema)
        .parquet(stream_dir)
    )
    stream.createOrReplaceTempView("orders_live")
    try:
        ctx.add_policy(RowFilterPolicy("user_A", "orders_live",
                                       "region = 'beijing'"))
        ctx.add_policy(DataMaskPolicy("user_A", "orders_live",
                                      "customer_name", "MASK"))
        df = ctx.sql(
            "user_A",
            "SELECT order_id, customer_name, region FROM orders_live")
        assert df.isStreaming
        rows = fetch_stream_rows(df, size=10)
        assert {tuple(r) for r in rows} == {
            (10001, "Xxxx", "beijing"),
            (10002, "Xxxxx", "beijing"),
        }
    finally:
        spark.catalog.dropTempView("orders_live")


def test_secure_stream_rejects_batch_df(spark, ctx, demo_tables):
    with pytest.raises(ValueError):
        secure_stream(ctx, "user_A", spark.table("orders"), "orders")


def test_fetch_n_truncates(spark, ctx, stream_dir):
    stream = (
        spark.readStream.schema(spark.table("orders").schema)
        .parquet(stream_dir)
    )
    # no-policy user sees the unfiltered stream; fetch-N returns first N
    rows = fetch_stream_rows(secure_stream(ctx, "user_Z", stream, "orders"), size=3)
    assert len(rows) == 3


def test_windowed_event_counts_streaming(spark, ctx, stream_dir, demo_tables):
    stream = (
        spark.readStream.schema(spark.table("orders").schema)
        .parquet(stream_dir)
        .withColumnRenamed("order_date", "ts")
        .withColumnRenamed("price", "value")
        .withColumnRenamed("region", "event_type")
    )
    windowed = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    rows = fetch_stream_rows(windowed, size=20, output_mode="complete")
    by_key = {(str(r["window_start"]), r["event_type"]): r["cnt"] for r in rows}
    # orders fixture: 2020-07-30 10:xx beijing x2 in the same hour window
    assert by_key[("2020-07-30 10:00:00", "beijing")] == 2


def test_windowed_batch_equivalence(spark, demo_tables):
    # same windowing arithmetic on the batch path (oracle-checkable form)
    events = (
        spark.table("orders")
        .withColumnRenamed("order_date", "ts")
        .withColumnRenamed("price", "value")
        .withColumnRenamed("region", "event_type")
    )
    rows = windowed_event_counts(events).collect()
    assert sum(r["cnt"] for r in rows) == 6


def test_rate_source_shape(spark):
    df = rate_source_demo(spark)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "order_id", "order_date", "customer_name", "product_id",
        "price", "order_status", "region",
    ]


def test_streaming_dedup_drops_duplicate_content(spark):
    """dropDuplicates on the content key matches batch exact_dedup semantics."""
    import time
    from flink_sql_security_spark.streaming.dedup import (
        dedup_stream, dedup_stream_watermarked)

    path = tempfile.mkdtemp(prefix="fss_stream_docs")
    try:
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", "the quick brown fox"),
             (2, "2024-01-01 00:01:00", "THE  quick  brown  FOX"),   # dup (normalized)
             (3, "2024-01-01 00:02:00", "something else entirely"),
             (4, "2024-01-01 09:00:00", "the quick brown fox")],     # dup, far later
            ["doc_id", "ts", "text"]
        ).withColumn("ts", F.col("ts").cast("timestamp")) \
         .write.mode("overwrite").parquet(path)

        src = spark.readStream.schema(
            "doc_id long, ts timestamp, text string").parquet(path)

        q = dedup_stream(src, "text").writeStream \
            .format("memory").queryName("dd_exact").outputMode("append").start()
        q.processAllAvailable(); q.stop()
        exact_ids = {r["doc_id"] for r in spark.sql(
            "SELECT doc_id FROM dd_exact").collect()}
        # one doc per distinct content; which duplicate wins is batch-order
        # dependent, so assert on count + the unique doc
        assert len(exact_ids) == 2 and 3 in exact_ids

        qw = dedup_stream_watermarked(src, "ts", "text", "10 minutes") \
            .writeStream.format("memory").queryName("dd_wm") \
            .outputMode("append").start()
        qw.processAllAvailable(); qw.stop()
        wm_rows = spark.sql("SELECT doc_id FROM dd_wm").collect()
        wm_ids = {r["doc_id"] for r in wm_rows}
        # within one batch all four arrive together: 1/2 collapse; 4 is
        # outside the 10-minute horizon of 1 → may be kept as new state.
        assert 3 in wm_ids and len(wm_ids) >= 2
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_text_gates_apply_to_streams(spark):
    """The corpus-cleaning GATES (lang-ID, quality, token counts) are
    stateless projections — they run unchanged on a stream."""
    from flink_sql_security_spark.functions import text as T

    path = tempfile.mkdtemp(prefix="fss_stream_text")
    try:
        spark.createDataFrame(
            [(1, "the cat and the dog ran to the house of a friend"),
             (2, "el perro y la casa de que el gato y la"),
             (3, "!!!! 123")],
            ["doc_id", "text"]).write.mode("overwrite").parquet(path)
        src = spark.readStream.schema("doc_id long, text string").parquet(path)
        gated = (
            src.select("doc_id", F.col("text"),
                       T.lang_id(F.col("text")).alias("lang"),
                       T.quality_score(F.col("text")).alias("q"),
                       T.word_count(F.col("text")).alias("wc"))
            .where(F.col("lang") == "en")
        )
        q = gated.writeStream.format("memory").queryName("txt_gate") \
            .outputMode("append").start()
        q.processAllAvailable(); q.stop()
        rows = spark.sql("SELECT doc_id, wc FROM txt_gate").collect()
        assert [(r["doc_id"], r["wc"]) for r in rows] == [(1, 12)]
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark):
    """Watermarked stream-stream interval join ≡ the batch interval join."""
    from flink_sql_security_spark.streaming.interval_join import (
        interval_join_streams)

    cdir = tempfile.mkdtemp(prefix="fss_ij_clicks")
    pdir = tempfile.mkdtemp(prefix="fss_ij_purch")
    try:
        clicks = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 7),
             (2, "2024-01-01 11:00:00", 7),
             (3, "2024-01-01 10:05:00", 8)],
            ["click_id", "click_ts", "user_id"]
        ).withColumn("click_ts", F.col("click_ts").cast("timestamp"))
        purchases = spark.createDataFrame(
            [(101, "2024-01-01 10:30:00", 7),   # in window of click 1
             (102, "2024-01-01 11:30:01", 7),   # in window of click 2 only
             (103, "2024-01-01 12:59:00", 8),   # outside any window
             (104, "2024-01-01 10:05:00", 8)],  # equal ts: strict > excludes
            ["purchase_id", "purchase_ts", "user_id"]
        ).withColumn("purchase_ts", F.col("purchase_ts").cast("timestamp"))
        clicks.write.mode("overwrite").parquet(cdir)
        purchases.write.mode("overwrite").parquet(pdir)

        cs = spark.readStream.schema(
            "click_id long, click_ts timestamp, user_id long").parquet(cdir)
        ps = spark.readStream.schema(
            "purchase_id long, purchase_ts timestamp, user_id long").parquet(pdir)
        q = interval_join_streams(cs, ps, on="user_id", left_ts="click_ts",
                                  right_ts="purchase_ts", window="1 hour") \
            .writeStream.format("memory").queryName("ij_out") \
            .outputMode("append").start()
        q.processAllAvailable(); q.stop()
        got = {(r.click_id, r.purchase_id) for r in
               spark.sql("SELECT click_id, purchase_id FROM ij_out").collect()}
        assert got == {(1, 101), (2, 102)}

        batch = clicks.alias("l").join(
            purchases.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.purchase_ts") > F.col("l.click_ts"))
            & (F.col("r.purchase_ts")
               <= F.col("l.click_ts") + F.expr("INTERVAL 1 hour")),
            "inner")
        assert {(r.click_id, r.purchase_id)
                for r in batch.select("click_id", "purchase_id").collect()} == got

        with pytest.raises(ValueError, match="collide"):
            interval_join_streams(
                cs, ps.withColumnRenamed("purchase_id", "click_id"),
                on="user_id", left_ts="click_ts", right_ts="purchase_ts")
    finally:
        shutil.rmtree(cdir, ignore_errors=True)
        shutil.rmtree(pdir, ignore_errors=True)


def test_incremental_dedup_stream_matches_batch(spark):
    """foreachBatch near-dedup of a stream vs a static corpus produces the
    batch operator's exact statuses."""
    from flink_sql_security_spark.operators.dedup import incremental_dedup
    from flink_sql_security_spark.streaming.dedup import incremental_dedup_stream

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "completely different content about spark streams here")],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),        # exact
         (11, "the quick brown fox jumps over a lazy dog today"),    # near
         (12, "nothing like anything in the corpus at all folks")],  # kept
        ["doc_id", "text"])

    expected = {(r["doc_id"], r["status"]) for r in incremental_dedup(
        batch, corpus, num_hashes=16, bands=8, threshold=0.3).collect()}
    assert ("10", "exact_dup") not in expected  # sanity: ids are longs

    path = tempfile.mkdtemp(prefix="fss_stream_inc")
    try:
        batch.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema("doc_id long, text string").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update((r["doc_id"], r["status"]) for r in df.collect())

        q = incremental_dedup_stream(
            src, corpus, sink, num_hashes=16, bands=8, threshold=0.3).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
        assert dict(got)[10] == "exact_dup"
        assert dict(got)[12] == "kept"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_chunking_applies_to_streams(spark):
    """chunk_tokens is a stateless narrow explode — it runs unchanged on
    a stream (the ingest-time slicing of a continuous document feed)."""
    from flink_sql_security_spark.operators.corpus import chunk_tokens

    path = tempfile.mkdtemp(prefix="fss_stream_chunk")
    try:
        spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "x y")],
            ["doc_id", "text"]).write.mode("overwrite").parquet(path)
        src = spark.readStream.schema("doc_id long, text string").parquet(path)
        q = (chunk_tokens(src, size=4, stride=3)
             .writeStream.format("memory").queryName("chunk_stream")
             .outputMode("append").start())
        q.processAllAvailable(); q.stop()
        rows = spark.sql(
            "SELECT doc_id, chunk_i, chunk_text FROM chunk_stream").collect()
        got = {(r["doc_id"], r["chunk_i"]): r["chunk_text"] for r in rows}
        assert got == {(1, 0): "a b c d", (1, 1): "d e f g", (1, 2): "g",
                       (2, 0): "x y"}
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_upsert_stream_matches_batch_compaction(spark):
    """foreachBatch CDC ingest: merged sink state equals the batch
    ``upsert_latest`` of the full changelog (idempotent seq-guarded merge)."""
    from flink_sql_security_spark.operators.cdc import upsert_latest
    from flink_sql_security_spark.streaming.cdc import upsert_stream

    rows = [(1, 1, "U", "a1"), (1, 2, "U", "a2"), (2, 1, "U", "b1"),
            (2, 2, "D", None), (3, 1, "U", "c1")]
    changelog = spark.createDataFrame(
        rows, "k long, seq long, op string, v string")
    expected = {(r["k"], r["seq"], r["v"]) for r in upsert_latest(
        changelog, ["k"], "seq", op_col="op").collect()}

    path = tempfile.mkdtemp(prefix="fss_stream_cdc")
    try:
        changelog.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "k long, seq long, op string, v string").parquet(path)
        state: dict = {}

        def merge(df, batch_id):
            # seq-guarded upsert/delete — the Delta MERGE condition
            for r in df.collect():
                cur = state.get(r["k"])
                if cur is None or r["seq"] > cur[0]:
                    state[r["k"]] = (r["seq"], r["op"], r["v"])

        q = upsert_stream(src, merge, ["k"], "seq", op_col="op").start()
        q.processAllAvailable(); q.stop()
        live = {(k, s, v) for k, (s, op, v) in state.items() if op != "D"}
        assert live == expected
        assert state[2][1] == "D"  # tombstone reached the sink
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_latest_state_stream_update_mode(spark):
    """Stateful per-key latest row: update-mode aggregation keeps one
    struct per key and reflects the highest-seq value, with soft-delete
    flagging."""
    from flink_sql_security_spark.streaming.cdc import latest_state_stream

    rows = [(1, 1, "U", "a1"), (1, 3, "U", "a3"), (1, 2, "U", "a2"),
            (2, 1, "U", "b1"), (2, 2, "D", None)]
    path = tempfile.mkdtemp(prefix="fss_stream_cdc2")
    try:
        spark.createDataFrame(
            rows, "k long, seq long, op string, v string"
        ).write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "k long, seq long, op string, v string").parquet(path)
        out = latest_state_stream(src, ["k"], "seq", ["v"], op_col="op")
        q = (out.writeStream.format("memory").queryName("cdc_latest")
             .outputMode("complete").start())
        q.processAllAvailable(); q.stop()
        got = {(r["k"], r["seq"], r["v"], r["is_deleted"])
               for r in spark.table("cdc_latest").collect()}
        assert got == {(1, 3, "a3", False), (2, 2, None, True)}
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ann_ingest_stream_matches_batch(spark):
    """Streaming vector screening vs a static corpus reproduces exactly the
    cross-side subset of the batch ANN operator on the union."""
    import math
    import random

    from flink_sql_security_spark.operators.similarity import ann_candidate_pairs
    from flink_sql_security_spark.streaming.similarity import ann_ingest_stream

    rng = random.Random(7)

    def vec(seed, base=None):
        r = random.Random(seed)
        v = [r.uniform(-1, 1) for _ in range(64)]
        if base is not None:  # near-duplicate of base
            v = [b + 0.05 * x for b, x in zip(base, v)]
        return v

    base_vecs = {i: vec(i) for i in range(20)}
    corpus = spark.createDataFrame(
        [(i, base_vecs[i]) for i in range(20)],
        "vec_id long, embedding array<double>")
    batch_rows = (
        [(100 + i, vec(1000 + i, base_vecs[i])) for i in range(6)]  # near-dups
        + [(200 + i, vec(5000 + i)) for i in range(6)])             # novel
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>")

    both = corpus.union(batch)
    expected = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]), r["cosine"])
        for r in ann_candidate_pairs(both, bits=4, tables=24,
                                     threshold=0.6).collect()
        if (r["id_a"] >= 100) != (r["id_b"] >= 100)}
    assert expected, "fixture must produce cross near-dups"

    path = tempfile.mkdtemp(prefix="fss_stream_ann")
    try:
        batch.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "vec_id long, embedding array<double>").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update((r["id_new"], r["id_old"], r["cosine"])
                       for r in df.collect())

        q = ann_ingest_stream(src, corpus, sink, bits=4, tables=24,
                              threshold=0.6).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_stream_static_dim_join(spark, demo_tables):
    """Native stream-static enrichment join (no foreachBatch): streaming
    facts join a static dimension; Spark broadcasts the dim per batch."""
    path = tempfile.mkdtemp(prefix="fss_stream_dim")
    try:
        spark.table("orders").write.mode("overwrite").parquet(path)
        stream = spark.readStream.schema(
            spark.table("orders").schema).parquet(path)
        dim = spark.table("products")
        joined = (
            stream.join(dim, stream.product_id == dim.id)
            .select("order_id", "customer_name", "name")
        )
        assert joined.isStreaming
        q = (joined.writeStream.format("memory").queryName("dim_join")
             .outputMode("append").start())
        q.processAllAvailable(); q.stop()
        got = {(r["order_id"], r["name"])
               for r in spark.table("dim_join").collect()}
        want = {(r["order_id"], r["name"]) for r in spark.sql(
            "SELECT order_id, name FROM orders "
            "JOIN products ON product_id = id").collect()}
        assert got == want and len(got) == 6
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_streaming_sketches_match_batch_state(spark):
    """HLL registers, Bloom bits, and CMS counters maintained over a
    stream equal the batch sketch of the same rows — the bounded-state
    streaming profiling path."""
    from flink_sql_security_spark.operators import sketch as B
    from flink_sql_security_spark.streaming import sketch as S

    path = tempfile.mkdtemp(prefix="fss_stream_sketch")
    try:
        rows = [(i, f"tok{i % 13}") for i in range(200)]
        batch = spark.createDataFrame(rows, ["doc_id", "v"])
        batch.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema("doc_id long, v string").parquet(path)

        q = (S.hll_register_stream(src, ["v"]).writeStream
             .format("memory").queryName("sk_hll")
             .outputMode("complete").start())
        q.processAllAvailable(); q.stop()
        got = sorted(map(tuple, spark.sql(
            "SELECT * FROM sk_hll").collect()))
        want = sorted(map(tuple, B.hll_registers(batch, ["v"]).collect()))
        assert got == want

        q = (S.bloom_bit_stream(src, "v", n_bits=512, k=5).writeStream
             .format("memory").queryName("sk_bloom")
             .outputMode("append").start())
        q.processAllAvailable(); q.stop()
        got = sorted(r["bit"] for r in spark.sql(
            "SELECT * FROM sk_bloom").collect())
        want = sorted(r["bit"] for r in B.bloom_bits(
            batch, "v", n_bits=512, k=5).collect())
        assert got == want

        q = (S.cms_counter_stream(src, "v", width=64, depth=4).writeStream
             .format("memory").queryName("sk_cms")
             .outputMode("complete").start())
        q.processAllAvailable(); q.stop()
        got = sorted(map(tuple, spark.sql("SELECT * FROM sk_cms").collect()))
        want = sorted(map(tuple, B.cms_counters(
            batch, "v", width=64, depth=4).collect()))
        assert got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_pq_ingest_stream_matches_batch(spark):
    """Streaming IVF-PQ search against a static corpus reproduces the
    batch ivfpq_topk result exactly — the persisted (cell, codes) index
    is encoded once and every micro-batch probes it via codes_df reuse."""
    import random

    from flink_sql_security_spark.operators import pq as PQ
    from flink_sql_security_spark.streaming.similarity import pq_ingest_stream

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(16)]

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(60)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100 + i, vec(1000 + i)) for i in range(5)],
        "vec_id long, embedding array<double>")
    coarse, books = PQ.ivfpq_train(corpus, n_cells=4, m=4, k=8, iters=2)

    expected = {tuple(r) for r in PQ.ivfpq_topk(
        corpus, queries, coarse, books, k=3, n_probe=2,
        residual=True).collect()}
    assert expected

    path = tempfile.mkdtemp(prefix="fss_stream_pq")
    try:
        queries.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "vec_id long, embedding array<double>").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update(tuple(r) for r in df.collect())

        q = pq_ingest_stream(src, corpus, sink, coarse, books,
                             k=3, n_probe=2, residual=True).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_linear_probe_scores_streams(spark):
    """The fit-once / score-forever deployment shape: ridge weights fit
    on the static labeled corpus, then `linear_score` — a stateless
    narrow projection — applied UNCHANGED to a stream of new vectors
    reproduces the batch scores exactly."""
    from flink_sql_security_spark.operators import classifier as C

    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    corpus = spark.read.parquet(emb_path)
    w = C.ridge_fit(corpus)

    batch = {tuple(r) for r in C.linear_score(
        corpus, w, threshold=0.2).collect()}
    assert batch

    path = tempfile.mkdtemp(prefix="fss_stream_probe")
    try:
        corpus.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(corpus.schema).parquet(path)
        scored = C.linear_score(src, w, threshold=0.2)
        assert scored.isStreaming
        got = set()

        def sink(df, batch_id):
            got.update(tuple(r) for r in df.collect())

        q = scored.writeStream.foreachBatch(sink).start()
        q.processAllAvailable(); q.stop()
        assert got == batch
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_hamming_ingest_stream_matches_batch(spark):
    """Streaming binary search against a static corpus reproduces the
    batch hamming_topk(rerank) result exactly — the packed code words
    are encoded once and every micro-batch probes the persisted index."""
    import random

    from flink_sql_security_spark.operators import binary as B
    from flink_sql_security_spark.streaming.similarity import (
        hamming_ingest_stream)

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(32)]

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(80)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(200 + i, vec(2000 + i)) for i in range(6)],
        "vec_id long, embedding array<double>")

    expected = {tuple(r) for r in B.hamming_topk(
        corpus, queries, k=4, rerank=3, d=32).collect()}
    assert expected

    path = tempfile.mkdtemp(prefix="fss_stream_bin")
    try:
        queries.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "vec_id long, embedding array<double>").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update(tuple(r) for r in df.collect())

        q = hamming_ingest_stream(src, corpus, sink, k=4, rerank=3,
                                  d=32).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_weighted_sample_stream_matches_batch(spark):
    """The deterministic-key reservoir contract: after any prefix of
    micro-batches, the held sample equals the BATCH weighted_sample
    over every row seen so far — arrival order and batching free."""
    from flink_sql_security_spark.operators.sampling import weighted_sample
    from flink_sql_security_spark.streaming.sampling import (
        weighted_sample_stream)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "source", "n_chars")
    expected = sorted(
        tuple(r.asDict().items())
        for r in weighted_sample(docs, 25, "n_chars").collect())
    assert len(expected) == 25

    path = tempfile.mkdtemp(prefix="fss_stream_res")
    try:
        # several files -> several micro-batches with maxFilesPerTrigger
        docs.repartition(5).write.mode("overwrite").parquet(path)
        src = (spark.readStream.schema(docs.schema)
               .option("maxFilesPerTrigger", "1").parquet(path))
        seen = {"last": None, "calls": 0}

        def sink(sample_rows, batch_id):
            seen["last"] = sample_rows
            seen["calls"] += 1
            assert len(sample_rows) <= 25

        q = weighted_sample_stream(src, 25, "n_chars", sink).start()
        q.processAllAvailable(); q.stop()
        assert seen["calls"] >= 2          # genuinely incremental
        got = sorted(tuple(p.items()) for p in seen["last"])
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_hamming_ingest_stream_auto_rerank_matches_batch(spark):
    """rerank='auto' flows through the streaming path unchanged: the
    per-query candidate count (and so the shortlist cutoff) is computed
    in-plan per micro-batch, bit-identical to batch."""
    import random

    from flink_sql_security_spark.operators import binary as B
    from flink_sql_security_spark.streaming.similarity import (
        hamming_ingest_stream)

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(32)]

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(80)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(200 + i, vec(2000 + i)) for i in range(6)],
        "vec_id long, embedding array<double>")

    expected = {tuple(r) for r in B.hamming_topk(
        corpus, queries, k=4, rerank="auto", d=32).collect()}
    assert expected

    path = tempfile.mkdtemp(prefix="fss_stream_bin_auto")
    try:
        queries.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "vec_id long, embedding array<double>").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update(tuple(r) for r in df.collect())

        q = hamming_ingest_stream(src, corpus, sink, k=4, rerank="auto",
                                  d=32).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_mmr_ingest_stream_matches_batch(spark):
    """Streaming MMR against a static corpus reproduces the batch
    mmr_rerank result exactly — the corpus persists once, each
    micro-batch runs the identical shortlist + greedy code paths."""
    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from flink_sql_security_spark.streaming.retrieval import (
        mmr_ingest_stream)

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.where("vec_id < 6")

    expected = {tuple(r) for r in mmr_rerank(
        corpus, queries, k=4, shortlist=10, lam=0.7).collect()}
    assert expected

    path = tempfile.mkdtemp(prefix="fss_stream_mmr")
    try:
        queries.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "vec_id long, embedding array<float>").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update(tuple(r) for r in df.collect())

        q = mmr_ingest_stream(src, corpus, sink, k=4, shortlist=10,
                              lam=0.7).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_opq_ingest_stream_matches_batch(spark):
    """Streaming OPQ search reproduces batch opq_topk exactly — the
    rotated code table is the persisted index; each batch pays only
    its own rotation + LUT pass."""
    from flink_sql_security_spark.operators import opq as O
    from flink_sql_security_spark.streaming.similarity import (
        opq_ingest_stream)

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.where("vec_id < 6")
    R, books = O.opq_train(corpus, m=8, k=16, iters=2, opq_iters=2)

    expected = {tuple(r) for r in O.opq_topk(
        corpus, queries, R, books, k=4).collect()}
    assert expected

    path = tempfile.mkdtemp(prefix="fss_stream_opq")
    try:
        queries.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "vec_id long, embedding array<float>").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update(tuple(r) for r in df.collect())

        q = opq_ingest_stream(src, corpus, sink, R, books, k=4).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_grouped_hll_register_stream_matches_batch(spark):
    """Per-key HLL maintenance over a stream: the complete-mode register
    state after all micro-batches equals the batch registers (max is
    order-independent), and the estimator over the sink equals the
    batch per-key estimates."""
    from flink_sql_security_spark.operators import sketch as B
    from flink_sql_security_spark.streaming import sketch as S

    path = tempfile.mkdtemp(prefix="fss_stream_ghll")
    try:
        rows = [(i, f"key{i % 3}", f"user{i % 41}") for i in range(300)]
        batch = spark.createDataFrame(rows, ["id", "k", "u"])
        batch.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "id long, k string, u string").parquet(path)

        q = (S.grouped_hll_register_stream(src, "k", "u").writeStream
             .format("memory").queryName("sk_ghll")
             .outputMode("complete").start())
        q.processAllAvailable(); q.stop()
        got = sorted(map(tuple, spark.sql(
            "SELECT * FROM sk_ghll").collect()))
        want = sorted(map(tuple, B.grouped_hll_registers(
            batch, "k", "u").collect()))
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_rrf_ingest_stream_matches_batch(spark):
    """Streaming hybrid fusion reproduces batch rrf_fuse exactly: two
    retriever arms (exact cosine + binary hamming tiers over the same
    persisted corpus) run per micro-batch and their shortlists fuse
    per query — every value bit-equal to the batch composition."""
    from pyspark.sql import functions as F

    from flink_sql_security_spark.operators import binary as B
    from flink_sql_security_spark.operators import similarity as S
    from flink_sql_security_spark.operators.retrieval import rrf_fuse
    from flink_sql_security_spark.streaming.retrieval import (
        rrf_ingest_stream)

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.where("vec_id < 6")

    def cos_arm(q):
        return (S.cosine_topk(corpus, q, k=8)
                .select("q_id", F.col("n_id").alias("vec_id"), "rank"))

    def ham_arm(q):
        return (B.hamming_topk(corpus, q, k=8, d=64)
                .select("q_id", F.col("n_id").alias("vec_id"), "rank"))

    expected = {tuple(r) for r in rrf_fuse(
        [("cos", cos_arm(queries)), ("ham", ham_arm(queries))],
        id_col="vec_id", group_col="q_id", k0=60, k=5).collect()}
    assert expected

    path = tempfile.mkdtemp(prefix="fss_stream_rrf")
    try:
        queries.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(
            "vec_id long, embedding array<float>").parquet(path)
        got = set()

        def sink(df, batch_id):
            got.update(tuple(r) for r in df.collect())

        q = rrf_ingest_stream(
            src, [("cos", cos_arm), ("ham", ham_arm)], sink,
            id_col="vec_id", group_col="q_id", k0=60, k=5).start()
        q.processAllAvailable(); q.stop()
        assert got == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_gapfill_state_stream_matches_batch(spark):
    """Streaming stage-1 state (latest obs per (user, period)) equals
    the batch pick, and resample_ffill over the streamed state equals
    resample_ffill over the raw events — the stream-maintains /
    batch-fills split documented in streaming/timeseries.py."""
    import datetime as dt

    from flink_sql_security_spark.operators.timeseries import resample_ffill
    from flink_sql_security_spark.streaming.timeseries import (
        latest_per_period_stream)

    d = dt.datetime
    rows = [
        (1, d(2024, 1, 1, 0, 10), 101, 10.0),
        (1, d(2024, 1, 1, 0, 50), 102, 20.0),
        (1, d(2024, 1, 1, 0, 50), 99, 15.0),   # same-ts tie: id 102 wins
        (1, d(2024, 1, 1, 3, 5), 104, 30.0),
        (2, d(2024, 1, 1, 5, 0), 103, 7.0),
    ]
    schema = "user_id long, ts timestamp, event_id long, value double"
    path = tempfile.mkdtemp(prefix="fss_stream_gapfill")
    try:
        df = spark.createDataFrame(rows, schema)
        df.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(schema).parquet(path)
        q = (latest_per_period_stream(src).writeStream
             .format("memory").queryName("gf_state")
             .outputMode("complete").start())
        q.processAllAvailable(); q.stop()
        state = spark.table("gf_state")
        # streamed state == the batch stage-1 pick (derive it from the
        # batch op by taking the unfilled rows)
        batch_obs = sorted(
            (r["user_id"], r["period"], r["value"])
            for r in resample_ffill(df).collect() if not r["filled"])
        got_state = sorted(map(tuple, state.collect()))
        assert got_state == batch_obs
        # batch fill over the streamed state == fill over raw events
        refill = resample_ffill(
            state.withColumn("event_id", F.lit(0)),
            ts_col="period", id_col="event_id")
        assert sorted(map(tuple, refill.collect())) == sorted(
            map(tuple, resample_ffill(df).collect()))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_funnel_state_stream_matches_batch(spark):
    """Streaming funnel (per-user retained-event state, update mode)
    equals the batch op after the stream drains — with out-of-order
    arrival ACROSS micro-batches (maxFilesPerTrigger=1): a late
    step-1 re-anchors the chain, a horizon-excluded step stays
    excluded, duplicates add nothing, and never-entering users emit
    nothing."""
    import datetime as dt
    import os

    from flink_sql_security_spark.operators.funnel import funnel
    from flink_sql_security_spark.streaming.funnel import (
        funnel_state_stream)

    d = dt.datetime
    steps = ["view", "click", "purchase"]
    # user 1: completes within the horizon anchored at its 11:00 view
    #         (cutoff 15:00 ≥ purchase 15:00), but its EARLIEST view
    #         arrives in the LAST file — the re-anchor to 10:00 shrinks
    #         the cutoff to 14:00 and pushes the purchase OUT
    # user 2: completes in order within the horizon
    # user 3: click before any view + duplicate clicks -> depth 1 after
    #         its view arrives late
    # user 4: never enters (click+purchase only) -> absent
    batches = [
        [(1, d(2024, 1, 1, 11), "view"), (1, d(2024, 1, 1, 12), "click"),
         (2, d(2024, 1, 1, 9), "view"), (4, d(2024, 1, 1, 9), "click")],
        [(1, d(2024, 1, 1, 15), "purchase"),
         (2, d(2024, 1, 1, 9, 30), "click"),
         (3, d(2024, 1, 1, 8), "click"), (3, d(2024, 1, 1, 8), "click"),
         (4, d(2024, 1, 1, 10), "purchase")],
        [(1, d(2024, 1, 1, 10), "view"),        # late re-anchor
         (2, d(2024, 1, 1, 10), "purchase"),
         (3, d(2024, 1, 1, 9), "view")],
    ]
    schema = "user_id long, ts timestamp, event_type string"
    rows = [r for b in batches for r in b]
    path = tempfile.mkdtemp(prefix="fss_stream_funnel")
    try:
        for i, b in enumerate(batches):
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(
                os.path.join(path, f"b{i}"))
        # register the three part-directories as one file stream, one
        # file per micro-batch
        files = spark.createDataFrame(rows, schema)
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(os.path.join(path, "b*")))
        q = (funnel_state_stream(src, steps, within_hours=4)
             .writeStream.format("memory").queryName("fn_state")
             .outputMode("update").start())
        q.processAllAvailable(); q.stop()
        sunk = spark.table("fn_state")
        # latest update per user
        last = {r["user_id"]: r for r in sunk.collect()}
        for r in sunk.collect():
            if r["upd"] >= last[r["user_id"]]["upd"]:
                last[r["user_id"]] = r
        want = {r["user_id"]: r for r in funnel(
            files, steps, within_hours=4).collect()}
        assert set(last) == set(want)
        for u, w in want.items():
            g = last[u]
            assert (g["step_1_ts"], g["step_2_ts"], g["step_3_ts"],
                    g["depth"]) == (w["step_1_ts"], w["step_2_ts"],
                                    w["step_3_ts"], w["depth"]), u
        # the documented fixture facts actually hold
        assert want[1]["depth"] == 2      # purchase fell out of horizon
        assert want[2]["depth"] == 3
        assert want[3]["depth"] == 1
        assert 4 not in want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_funnel_state_stream_no_horizon_matches_batch(spark):
    """Same machinery without a horizon: the chain-point prune path."""
    import datetime as dt
    import os

    from flink_sql_security_spark.operators.funnel import funnel
    from flink_sql_security_spark.streaming.funnel import (
        funnel_state_stream)

    d = dt.datetime
    steps = ["view", "click"]
    batches = [
        [(1, d(2024, 1, 1, 12), "click"), (2, d(2024, 1, 1, 1), "view")],
        [(1, d(2024, 1, 1, 11), "view"), (2, d(2024, 1, 1, 0, 30), "click"),
         (1, d(2024, 1, 1, 11, 30), "click")],  # earlier click arrives late
    ]
    schema = "user_id long, ts timestamp, event_type string"
    rows = [r for b in batches for r in b]
    path = tempfile.mkdtemp(prefix="fss_stream_funnel2")
    try:
        for i, b in enumerate(batches):
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(
                os.path.join(path, f"b{i}"))
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(os.path.join(path, "b*")))
        q = (funnel_state_stream(src, steps)
             .writeStream.format("memory").queryName("fn2_state")
             .outputMode("update").start())
        q.processAllAvailable(); q.stop()
        last = {}
        for r in spark.table("fn2_state").collect():
            if (r["user_id"] not in last
                    or r["upd"] >= last[r["user_id"]]["upd"]):
                last[r["user_id"]] = r
        want = {r["user_id"]: r for r in funnel(
            spark.createDataFrame(rows, schema), steps).collect()}
        assert set(last) == set(want)
        for u, w in want.items():
            g = last[u]
            assert (g["step_1_ts"], g["step_2_ts"], g["depth"]) == \
                (w["step_1_ts"], w["step_2_ts"], w["depth"]), u
        assert want[1]["depth"] == 2 and want[2]["depth"] == 1
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_retention_activity_stream_matches_batch(spark):
    """Streamed distinct-(user, period) state finalized by the batch
    retention op equals retention over the raw events — the gap-fill
    maintain/finalize split."""
    import datetime as dt

    from flink_sql_security_spark.operators.timeseries import (
        retention_cohorts)
    from flink_sql_security_spark.streaming.funnel import (
        retention_activity_stream)

    d = dt.datetime
    rows = [(u, d(2024, 1, day, hr), 0, 1.0)
            for u, day, hr in [(1, 1, 0), (1, 1, 5), (1, 8, 0),
                               (1, 22, 0), (2, 8, 0), (2, 15, 0),
                               (3, 1, 0)]]
    schema = "user_id long, ts timestamp, event_id long, value double"
    path = tempfile.mkdtemp(prefix="fss_stream_retention")
    try:
        df = spark.createDataFrame(rows, schema)
        df.write.mode("overwrite").parquet(path)
        src = spark.readStream.schema(schema).parquet(path)
        q = (retention_activity_stream(src).writeStream
             .format("memory").queryName("ret_state")
             .outputMode("append").start())
        q.processAllAvailable(); q.stop()
        state = spark.table("ret_state")
        got = sorted(map(tuple, retention_cohorts(
            state, ts_col="period").collect()))
        want = sorted(map(tuple, retention_cohorts(df).collect()))
        assert got == want and len(want) >= 4
        with pytest.raises(ValueError, match="period"):
            retention_activity_stream(df, period="fortnight")
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_funnel_state_stream_string_user_ids(spark):
    """The output key type derives from the input column — string
    entity ids stream like the batch op (round-10 review finding)."""
    import datetime as dt
    import os

    from flink_sql_security_spark.operators.funnel import funnel
    from flink_sql_security_spark.streaming.funnel import (
        funnel_state_stream)

    d = dt.datetime
    rows = [("dev-a", d(2024, 1, 1, 0), "view"),
            ("dev-a", d(2024, 1, 1, 1), "click"),
            ("dev-b", d(2024, 1, 1, 2), "view")]
    schema = "user_id string, ts timestamp, event_type string"
    path = tempfile.mkdtemp(prefix="fss_stream_funnel_str")
    try:
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(path, "b0"))
        src = (spark.readStream.schema(schema)
               .parquet(os.path.join(path, "b*")))
        q = (funnel_state_stream(src, ["view", "click"])
             .writeStream.format("memory").queryName("fn_str")
             .outputMode("update").start())
        q.processAllAvailable(); q.stop()
        got = {r["user_id"]: r["depth"]
               for r in spark.table("fn_str").collect()}
        want = {r["user_id"]: r["depth"] for r in funnel(
            spark.createDataFrame(rows, schema),
            ["view", "click"]).collect()}
        assert got == want == {"dev-a": 2, "dev-b": 1}
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_drain_state_partitions_derivation(spark, monkeypatch):
    """The drain state-task count is DERIVED, not a tuned literal:
    max(floor, min(defaultParallelism, ceil(est_bytes/STATE_TASK_BYTES)))
    — the measured local floors (4 JVM-native / 8 Python-state) hold
    for test-sized inputs, and a corpus-sized drain scales its state
    store up to the cluster parallelism (VERDICT-r11 task 3)."""
    from flink_sql_security_spark import streaming as st

    cores = spark.sparkContext.defaultParallelism
    tiny = spark.range(100)  # bytes-estimable, far below one task-quantum
    # local regime: the floor rules
    assert st.drain_state_partitions(tiny, 4) == 4
    assert st.drain_state_partitions(tiny, 8) == 8
    # scale regime: a corpus-sized estimate caps at cluster parallelism
    monkeypatch.setattr(
        "flink_sql_security_spark.plan_stats.plan_size_bytes",
        lambda df: 100 << 40)  # 100 TB
    assert st.drain_state_partitions(tiny, 4) == cores
    # unknown estimate reads as LARGE — the scale-safe path
    monkeypatch.setattr(
        "flink_sql_security_spark.plan_stats.plan_size_bytes",
        lambda df: None)
    assert st.drain_state_partitions(tiny, 4) == cores
    # mid regime: the estimate term itself sizes the store
    monkeypatch.setattr(
        "flink_sql_security_spark.plan_stats.plan_size_bytes",
        lambda df: st.STATE_TASK_BYTES * 2 + 1)  # just past 2 task-quanta
    assert st.drain_state_partitions(tiny, 1) == min(cores, 3)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        st.drain_state_partitions(tiny, 0)


def test_funnel_stream_coarse_keying_row_identical(spark):
    """The r12 coarse-group keying (state holds many users per
    xxhash64 group) must emit the IDENTICAL sink rows — user, step
    timestamps, depth, AND the per-user upd sequence — as the
    per-user keying on the same micro-batch interleaving: the
    per-user state machine is shared code, only the state-protocol
    grouping differs. Exercised with the out-of-order fixture of
    test_funnel_state_stream_matches_batch (late re-anchor, horizon
    exclusion, duplicates, never-entering user), with and without a
    horizon."""
    import datetime as dt
    import os

    from flink_sql_security_spark.streaming.funnel import (
        funnel_state_stream)

    d = dt.datetime
    steps = ["view", "click", "purchase"]
    batches = [
        [(1, d(2024, 1, 1, 11), "view"), (1, d(2024, 1, 1, 12), "click"),
         (2, d(2024, 1, 1, 9), "view"), (4, d(2024, 1, 1, 9), "click")],
        [(1, d(2024, 1, 1, 15), "purchase"),
         (2, d(2024, 1, 1, 9, 30), "click"),
         (3, d(2024, 1, 1, 8), "click"), (3, d(2024, 1, 1, 8), "click"),
         (4, d(2024, 1, 1, 10), "purchase")],
        [(1, d(2024, 1, 1, 10), "view"),
         (2, d(2024, 1, 1, 10), "purchase"),
         (3, d(2024, 1, 1, 9), "view")],
    ]
    schema = "user_id long, ts timestamp, event_type string"
    path = tempfile.mkdtemp(prefix="fss_coarse_funnel")
    try:
        for i, b in enumerate(batches):
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(
                os.path.join(path, f"b{i}"))
        for horizon in (4, None):
            got = {}
            for tag, cg in (("fine", None), ("coarse", 2)):
                src = (spark.readStream.schema(schema)
                       .option("maxFilesPerTrigger", "1")
                       .parquet(os.path.join(path, "b*")))
                name = f"ck_{tag}_{horizon}"
                q = (funnel_state_stream(src, steps,
                                         within_hours=horizon,
                                         coarse_groups=cg)
                     .writeStream.format("memory").queryName(name)
                     .outputMode("update").start())
                q.processAllAvailable(); q.stop()
                got[tag] = sorted(
                    map(tuple, spark.table(name).collect()), key=repr)
            assert got["fine"] == got["coarse"], horizon
            assert len(got["fine"]) > 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_funnel_stream_coarse_restart_with_other_group_count_fails(spark):
    """``coarse_groups`` is stored in the coarse state: restarting a
    checkpointed stream with another group count fails loudly, naming
    both counts, instead of re-routing users to groups without their
    state."""
    import datetime as dt
    import os

    from pyspark.errors import StreamingQueryException

    from flink_sql_security_spark.streaming.funnel import (
        funnel_state_stream)

    d = dt.datetime
    schema = "user_id long, ts timestamp, event_type string"
    path = tempfile.mkdtemp(prefix="fss_funnel_restart")
    src_dir, ck = os.path.join(path, "src"), os.path.join(path, "ck")

    emitted: list = []

    def drain(groups: int):
        src = spark.readStream.schema(schema).parquet(
            os.path.join(src_dir, "b*"))
        q = (funnel_state_stream(src, ["view", "click"],
                                 coarse_groups=groups)
             .writeStream.option("checkpointLocation", ck)
             .foreachBatch(lambda b, _: emitted.extend(b.collect()))
             .outputMode("update").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    try:
        spark.createDataFrame(
            [(u, d(2024, 1, 1, 9), "view") for u in range(1, 9)],
            schema).coalesce(1).write.parquet(os.path.join(src_dir, "b0"))
        drain(4)
        assert len(emitted) == 8
        spark.createDataFrame(
            [(u, d(2024, 1, 1, 10), "click") for u in range(1, 9)],
            schema).coalesce(1).write.parquet(os.path.join(src_dir, "b1"))
        with pytest.raises(StreamingQueryException) as err:
            drain(2)
        msg = str(err.value)
        assert "coarse_groups=4" in msg and "coarse_groups=2" in msg, msg
        drain(4)    # the count the state was written with still resumes
        assert len(emitted) == 16
        assert {r["depth"] for r in emitted[8:]} == {2}
    finally:
        shutil.rmtree(path, ignore_errors=True)
