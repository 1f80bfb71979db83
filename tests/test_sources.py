"""Source/sink surface: file-format registration, sinks, session builder.

JDBC is exercised to the option-plumbing boundary only (no database server in
this environment); the reader construction and partitioning guard are real.
"""

import os
import shutil
import tempfile

import pytest

from flink_sql_security_spark import PolicyManager, RowFilterPolicy, SecurityContext
from flink_sql_security_spark.sources import (
    TPCH_TABLES, print_sink, register_file_table, register_jdbc_table,
    register_tables,
)

SF_DIR = "/root/testdata/sf0.001"


def test_register_csv_table(spark, demo_tables):
    path = tempfile.mkdtemp(prefix="fss_csv")
    try:
        spark.table("products").write.mode("overwrite") \
            .option("header", "true").csv(path)
        register_file_table(spark, "products_csv", path, fmt="csv")
        assert spark.table("products_csv").count() == 9
        # and the security layer applies to file-registered tables
        ctx = SecurityContext(spark, PolicyManager())
        ctx.add_policy(RowFilterPolicy("u", "products_csv", "name = 'hammer'"))
        assert ctx.execute_row_filter(
            "u", "SELECT id FROM products_csv", 10).__len__() == 3
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_register_json_table(spark, demo_tables):
    path = tempfile.mkdtemp(prefix="fss_json")
    try:
        spark.table("shipments").write.mode("overwrite").json(path)
        register_file_table(spark, "shipments_json", path, fmt="json")
        assert spark.table("shipments_json").count() == 3
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError):
        register_jdbc_table(
            spark, "t", "jdbc:mysql://localhost/db", "orders",
            partition_column="id")


def test_print_sink(spark, demo_tables, capsys):
    print_sink(spark.table("shipments"), n=5)
    out = capsys.readouterr().out
    assert "shipment_id" in out and "Beijing" in out


def test_register_tables_idempotent(spark):
    register_tables(spark, SF_DIR)
    n1 = spark.table("orders").count()
    register_tables(spark, SF_DIR)
    assert spark.table("orders").count() == n1 == 1500
    # a file: URI names the same directory
    for uri in ("file:" + SF_DIR, "file://" + SF_DIR):
        spark.catalog.dropTempView("orders")
        register_tables(spark, uri)
        assert spark.table("orders").count() == n1, uri


def test_register_tables_rejects_non_local_uri(spark):
    """A scheme the local listing cannot read raises, naming sf_dir,
    instead of registering nothing."""
    for uri in ("hdfs://nn:8020/sf0.001", "s3a://bucket/sf0.001",
                "file://otherhost/sf0.001"):
        with pytest.raises(ValueError, match="sf_dir"):
            register_tables(spark, uri)


def _tpch_views(spark):
    return {t.name: spark.table(t.name).schema.json()
            for t in spark.catalog.listTables()
            if t.isTemporary and t.name in TPCH_TABLES}


def test_register_tables_concurrent_matches_one_at_a_time(spark):
    """The concurrent registration creates the same views, with the same
    schemas, as registering one table per call."""
    for t in TPCH_TABLES:
        spark.catalog.dropTempView(t)
    register_tables(spark, SF_DIR)
    together = _tpch_views(spark)
    for t in TPCH_TABLES:
        spark.catalog.dropTempView(t)
    for t in TPCH_TABLES:
        register_tables(spark, SF_DIR, tables=(t,))
    apart = _tpch_views(spark)
    assert set(together) == set(TPCH_TABLES)
    assert together == apart
    # this corpus stores ts in µs; the NANOS file is the next test's
    assert dict(spark.table("events").dtypes)["ts"] in (
        "timestamp", "timestamp_ntz")


def test_register_tables_runs_no_spark_job(spark):
    """The schemas come from footers read on the driver: registering the
    ten tables starts no Spark job, in the calling thread or the pool's
    (the workers inherit the job group)."""
    sc = spark.sparkContext
    group = "fss_register_tables_no_job"
    sc.setJobGroup(group, "register_tables")
    try:
        register_tables(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_register_tables_schema_matches_inference(spark, sf):
    """Every view has the schema Spark's own inference gives the file."""
    sf_dir = f"/root/testdata/{sf}"
    try:
        register_tables(spark, sf_dir)
        for t in TPCH_TABLES:
            inferred = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            assert spark.table(t).schema.json() == inferred.schema.json(), t
    finally:
        register_tables(spark, SF_DIR)


def _register_as_inferred(spark, sf_dir, t):
    """Register ``t`` alone, check it against Spark's inference of the
    same path, drop it and return its columns."""
    register_tables(spark, sf_dir, tables=(t,))
    try:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        assert spark.table(t).schema.json() == inferred.schema.json(), t
        assert spark.table(t).count() == inferred.count(), t
        return spark.table(t).columns
    finally:
        spark.catalog.dropTempView(t)


def test_register_tables_directory_layouts_match_inference(spark, tmp_path):
    """Directories read from the file Spark's inference reads: hidden
    names and ``_temporary`` skipped, ``k=v`` directories descended and
    their partition columns kept."""
    d = str(tmp_path)
    df = spark.range(20).selectExpr(
        "id", "CAST(id AS STRING) AS s", "id % 3 AS k",
        "array(id, id) AS arr", "named_struct('a', id) AS st")
    written = os.path.join(d, "fss_written.parquet")
    df.coalesce(2).write.parquet(written)
    names = os.listdir(written)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    _register_as_inferred(spark, d, "fss_written")

    df.write.partitionBy("k").parquet(os.path.join(d, "fss_parted.parquet"))
    _register_as_inferred(spark, d, "fss_parted")

    temp = os.path.join(d, "fss_temp.parquet")
    df.coalesce(1).write.parquet(temp)
    spark.range(2).selectExpr("'x' AS other").write.parquet(
        os.path.join(temp, "_temporary", "0", "task"))
    _register_as_inferred(spark, d, "fss_temp")


def test_register_tables_directory_picks_inference_file(spark, tmp_path):
    """``_common_metadata``, else ``_metadata``, else the first data file
    by path: the same file, so the same schema, as Spark's inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def data(path, **cols):
        pq.write_table(pa.table({k: pa.array(v, pa.int64())
                                 for k, v in cols.items()}), path)

    def summary(path, *names):
        pq.write_metadata(pa.schema([(n, pa.int64()) for n in names]), path)

    both = tmp_path / "fss_both.parquet"
    both.mkdir()
    data(str(both / "a.parquet"), a=[1])
    summary(str(both / "_metadata"), "a", "c")
    summary(str(both / "_common_metadata"), "a", "b")
    only_meta = tmp_path / "fss_meta.parquet"
    only_meta.mkdir()
    data(str(only_meta / "a.parquet"), a=[1])
    summary(str(only_meta / "_metadata"), "a", "c")
    by_path = tmp_path / "fss_first.parquet"
    by_path.mkdir()
    data(str(by_path / "b.parquet"), a=[2], z=[2])
    data(str(by_path / "a.parquet"), a=[1])
    data(str(by_path / ".hidden.parquet"), a=[0], h=[0])
    for t, cols in (("fss_both", ["a", "b"]), ("fss_meta", ["a", "c"]),
                    ("fss_first", ["a"])):
        assert _register_as_inferred(spark, str(tmp_path), t) == cols, t


def test_register_tables_workers_do_not_share_local_properties(
        spark, tmp_path, monkeypatch):
    """Each worker gets its own copy of the caller's local properties: a
    property one worker sets is not seen by another. Spark's SQL execution
    writes its execution id there, so a shared copy races between the
    concurrent view registrations."""
    import threading

    names = ("fss_la", "fss_lb", "fss_lc")
    for t in names:
        spark.range(2).write.parquet(str(tmp_path / f"{t}.parquet"))
    sc = spark.sparkContext
    barrier = threading.Barrier(len(names), timeout=60)
    seen = {}
    frame = type(spark.range(1))
    create_view = frame.createOrReplaceTempView

    def probing(df, name):
        sc.setLocalProperty("fss.view", name)
        barrier.wait()  # every worker has written before any reads
        seen[name] = sc.getLocalProperty("fss.view")
        create_view(df, name)

    monkeypatch.setattr(frame, "createOrReplaceTempView", probing)
    try:
        register_tables(spark, str(tmp_path), tables=names)
    finally:
        monkeypatch.undo()
        for t in names:
            spark.catalog.dropTempView(t)
    assert seen == {t: t for t in names}


def test_register_tables_empty_directory_raises(spark, tmp_path):
    empty = tmp_path / "orders.parquet"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    with pytest.raises(ValueError, match="orders.parquet"):
        register_tables(spark, str(tmp_path), tables=("orders",))


def test_register_tables_reads_nanos_events_as_timestamp(spark, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS): the ``nanosAsLong`` conf is
    set before the schema converter is built, so ``ts`` comes back as µs
    timestamps, not bigint, with the nanoseconds floored."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64()),
                             "ts": pa.array(ns, pa.timestamp("ns"))}),
                   str(tmp_path / "events.parquet"))
    try:
        register_tables(spark, str(tmp_path), tables=("events",))
        assert dict(spark.table("events").dtypes)["ts"] == "timestamp"
        got = [r.us for r in spark.table("events").orderBy("event_id")
               .selectExpr("unix_micros(ts) AS us").collect()]
        assert got == [v // 1000 for v in ns]
    finally:
        register_tables(spark, SF_DIR, tables=("events",))


def test_register_tables_skips_missing_file(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "fss_present.parquet"))
    register_tables(spark, str(tmp_path),
                    tables=("fss_missing", "fss_present"))
    try:
        assert spark.table("fss_present").count() == 3
        assert not spark.catalog.tableExists("fss_missing")
    finally:
        spark.catalog.dropTempView("fss_present")


def test_register_tables_raises_on_unreadable_file(spark, tmp_path):
    """A worker's failure surfaces from the call, it is not swallowed."""
    (tmp_path / "orders.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as err:
        register_tables(spark, str(tmp_path), tables=("orders",))
    assert "orders.parquet" in str(err.value), err.value


def test_register_orc_table(spark, demo_tables):
    """ORC round-trip through the same register_file_table path (Spark's
    other built-in columnar format; same pushdown story as parquet)."""
    path = tempfile.mkdtemp(prefix="fss_orc")
    try:
        spark.table("orders").write.mode("overwrite").orc(path)
        register_file_table(spark, "orders_orc", path, fmt="orc")
        assert spark.table("orders_orc").count() == 6
        plan = spark.table("orders_orc").where("region = 'beijing'") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "beijing" in plan, plan
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_write_compacted_targets_file_count(spark, tmp_path):
    from flink_sql_security_spark.sources import write_compacted

    import glob

    df = spark.range(200_000).selectExpr(
        "id", "repeat('x', 64) AS pad").repartition(64)
    # 200k rows x ~70B ~ 14MB in-memory estimate -> 2MB target = several files
    out = str(tmp_path / "compacted")
    n = write_compacted(df, out, target_file_mb=2)
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == n
    assert 1 < n < 64  # genuinely compacted vs the 64 input partitions
    back = spark.read.parquet(out)
    assert back.count() == 200_000


def test_catalog_adapter_does_not_cache_misses(spark):
    """A table that appears AFTER a failed lookup must become visible to
    the same adapter — Spark catalogs are dynamic (a changelog ingest
    registers its maintained view mid-session); caching the miss hid the
    table from every later rewrite in the context."""
    from flink_sql_security_spark.catalog import CatalogAdapter

    adapter = CatalogAdapter(spark)
    assert adapter.get_table(["late_view_xyz"]) is None
    spark.range(3).selectExpr("id AS k").createOrReplaceTempView(
        "late_view_xyz")
    try:
        t = adapter.get_table(["late_view_xyz"])
        assert t is not None and t.columns[0].column_name == "k"
        # positive entries ARE cached (per-context cache still works)
        assert adapter.get_table(["late_view_xyz"]) is t
    finally:
        spark.catalog.dropTempView("late_view_xyz")


# --------------------------------------------------- debezium decode

def _env(op, ts, key, val, *, wrapped=False, pos=None):
    import json

    row = {"id": key, "val": val}
    env = {"before": row if op == "d" else None,
           "after": None if op == "d" else row,
           "op": op, "ts_ms": ts}
    if pos is not None:
        env["source"] = {"pos": pos}
    return json.dumps({"payload": env} if wrapped else env)


def test_debezium_decode_both_wrapper_shapes(spark):
    """schemas.enable=true (payload wrapper) and =false (bare) decode
    identically; deletes carry the before image; garbage rows drop."""
    from flink_sql_security_spark.sources.debezium import debezium_decode

    rows = [(_env("c", 1, 1, "a"),),
            (_env("u", 2, 1, "b", wrapped=True),),
            (_env("d", 3, 2, "gone"),),
            ("{not json",), ('{"unrelated": true}',)]
    out = debezium_decode(
        spark.createDataFrame(rows, ["value"]),
        row_ddl="id BIGINT, val STRING").collect()
    got = {(r["id"], r["_op"]): (r["val"], r["_seq"]) for r in out}
    assert len(out) == 3                      # garbage rows dropped
    assert got[(1, "c")] == ("a", 1)
    assert got[(1, "u")] == ("b", 2)          # wrapper shape decoded
    assert got[(2, "d")] == ("gone", 3)       # delete = before image


def test_debezium_state_compaction_and_tiebreak(spark):
    """Latest op wins per key; same-ts_ms collisions break on
    source.pos; a key whose latest op is a delete disappears."""
    from flink_sql_security_spark.sources.debezium import debezium_state

    rows = [(_env("c", 1, 1, "a"),),
            (_env("u", 5, 1, "winner", pos=9),),
            (_env("u", 5, 1, "loser", pos=3),),
            (_env("c", 1, 2, "x"),),
            (_env("d", 2, 2, "x"),),
            (_env("c", 1, 3, "kept", wrapped=True),)]
    out = {r["id"]: r["val"] for r in debezium_state(
        spark.createDataFrame(rows, ["value"]),
        row_ddl="id BIGINT, val STRING", key_cols=["id"],
        tiebreak_field="pos").collect()}
    assert out == {1: "winner", 3: "kept"}


def test_debezium_state_matches_jdbc_cdc_end_state(spark):
    """End-state parity on the SAME mutation script: the Debezium
    decode + compaction must equal operators/cdc.upsert_latest over
    the equivalent (key, seq, op, val) changelog — the contract the
    JDBC-emulated source (sources/jdbc_cdc.py) is tested against in
    test_jdbc_cdc.py."""
    from flink_sql_security_spark.operators.cdc import upsert_latest
    from flink_sql_security_spark.sources.debezium import debezium_state

    script = [  # (id, seq, op, val) — inserts, updates, deletes, re-insert
        (1, 1, "c", "a"), (1, 2, "u", "a2"),
        (2, 1, "c", "b"), (2, 2, "d", "b"),
        (3, 1, "c", "c"), (3, 2, "d", "c"), (3, 3, "c", "c3"),
        (4, 1, "c", "d")]
    tabular = spark.createDataFrame(script, ["id", "seq", "op", "val"])
    want = {r["id"]: r["val"] for r in upsert_latest(
        tabular, ["id"], "seq", op_col="op", delete_op="d").collect()}
    envelopes = spark.createDataFrame(
        [(_env(op, seq, i, val, wrapped=(i % 2 == 0)),)
         for i, seq, op, val in script], ["value"])
    got = {r["id"]: r["val"] for r in debezium_state(
        envelopes, row_ddl="id BIGINT, val STRING",
        key_cols=["id"]).collect()}
    assert got == want == {1: "a2", 3: "c3", 4: "d"}


def test_debezium_state_stream_matches_batch(spark):
    """Streaming envelope ingest (update mode, soft-delete carry)
    equals the batch debezium_state on the same multi-batch stream:
    NOT is_deleted rows match the batch current state, and a deleted
    key surfaces with is_deleted=True instead of vanishing."""
    import os

    from flink_sql_security_spark.sources.debezium import (
        debezium_state, debezium_state_stream)

    batches = [
        [(_env("c", 1, 1, "a"),), (_env("c", 1, 2, "x"),)],
        [(_env("u", 5, 1, "winner", pos=9, wrapped=True),),
         (_env("u", 5, 1, "loser", pos=3),), (_env("d", 2, 2, "x"),)],
    ]
    path = tempfile.mkdtemp(prefix="fss_deb_stream")
    try:
        for i, b in enumerate(batches):
            spark.createDataFrame(b, ["value"]).coalesce(1).write.parquet(
                os.path.join(path, f"b{i}"))
        src = (spark.readStream.schema("value string")
               .option("maxFilesPerTrigger", "1")
               .parquet(os.path.join(path, "b*")))
        q = (debezium_state_stream(src, row_ddl="id BIGINT, val STRING",
                                   key_cols=["id"], tiebreak_field="pos")
             .writeStream.format("memory").queryName("deb_state")
             .outputMode("complete").start())
        q.processAllAvailable(); q.stop()
        state = {r["id"]: r for r in spark.table("deb_state").collect()}
        batch_rows = spark.createDataFrame(
            [r for b in batches for r in b], ["value"])
        want = {r["id"]: r["val"] for r in debezium_state(
            batch_rows, row_ddl="id BIGINT, val STRING",
            key_cols=["id"], tiebreak_field="pos").collect()}
        live = {k: r["val"] for k, r in state.items()
                if not r["is_deleted"]}
        assert live == want == {1: "winner"}
        assert state[2]["is_deleted"]          # soft-delete carry
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_debezium_decode_drops_imageless_ops(spark):
    """Debezium 't' (truncate) and 'm' (message) events carry no row
    image — they must be skipped, not decoded into all-NULL state rows
    (round-10 review finding)."""
    import json

    from flink_sql_security_spark.sources.debezium import (
        debezium_state)

    rows = [(_env("c", 1, 1, "a"),),
            (json.dumps({"op": "t", "ts_ms": 2}),),
            (json.dumps({"payload": {"op": "m", "ts_ms": 3,
                                     "before": None, "after": None}}),)]
    out = debezium_state(spark.createDataFrame(rows, ["value"]),
                         row_ddl="id BIGINT, val STRING",
                         key_cols=["id"]).collect()
    assert [(r["id"], r["val"]) for r in out] == [(1, "a")]
