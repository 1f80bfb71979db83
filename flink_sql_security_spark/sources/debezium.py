"""Debezium-envelope changelog decode: op/before/after JSON → typed
changelog rows → latest-state compaction.

Closes the last sources delta vs the reference: its test tables are
``'connector' = 'mysql-cdc'`` streams (``AbstractBasicTest.java:179-187``
over ``data/database/mysql_ddl.sql:7-31``), i.e. Debezium-decoded MySQL
binlog envelopes that Flink compacts implicitly. ``sources/jdbc_cdc.py``
emulates the changelog by snapshot + seq-column tailing; this module
decodes the actual wire format — the (public, documented) Debezium
envelope::

    {"payload": {"before": {..}|null, "after": {..}|null,
                 "op": "c"|"u"|"r"|"d", "ts_ms": 1717...,
                 "source": {...}}}

with or without the ``payload`` schema wrapper (Kafka Connect's
``value.converter.schemas.enable`` toggles it; both shapes occur in the
wild, so the decoder accepts both).

Spark-first design: the decode is ONE ``from_json`` whose schema
carries both wrapper shapes (the ``payload`` field AND the bare
envelope fields — the parser null-fills whichever half is absent), so
every value is parsed once, not once per shape — whole-stage-codegen
JVM expressions, no Python in the path, and Catalyst prunes
unreferenced envelope fields straight through ``from_json``
(JsonExpressionOptimization), so a query that only needs two columns
never materializes the full ``before`` struct. Row payloads are typed by a caller-supplied DDL string exactly
like ``spark.read.schema``. Compaction reuses
:func:`..operators.cdc.upsert_latest` — one window exchange — so the
end state is definitionally consistent with the JDBC-emulated path
(parity-tested on the same mutation script in ``tests/test_sources.py``).

At 100 TB: the decode is a narrow map over the raw Kafka/file scan
(no exchange); ordering metadata (``ts_ms`` + a source-position
tiebreak like ``pos``/``lsn``) rides as two BIGINTs into the single
compaction shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.cdc import upsert_latest

#: Debezium op codes that carry their row image in ``after``.
_UPSERT_OPS = ("c", "u", "r")
DELETE_OP = "d"


def debezium_decode(df: DataFrame, *, row_ddl: str,
                    value_col: str = "value",
                    tiebreak_field: str | None = None) -> DataFrame:
    """Decode Debezium envelope JSON into typed changelog rows.

    Returns one row per change event: the row image (``after`` for
    c/u/r, ``before`` for d — deletes only carry the old image), plus
    ``_op`` (the raw Debezium op), ``_seq`` (the envelope ``ts_ms``)
    and ``_tie`` (``source.<tiebreak_field>`` as BIGINT, 0 when not
    requested) for deterministic ordering when ``ts_ms`` collides.
    Rows whose JSON is malformed, that lack an op, or whose op carries
    no row image (Debezium 't' truncate / 'm' message events) are
    dropped (from_json's PERMISSIVE null + the op whitelist) — a
    changelog with garbage or non-row events degrades by skipping
    them, never by failing the batch or emitting all-NULL rows.

    ``row_ddl``: the row-image schema as a DDL string, e.g.
    ``"id BIGINT, name STRING, price DECIMAL(12,2)"``.
    """
    from ..operators.skew import spread_partitions

    # the from_json decode is the heavy narrow kernel; a changelog read
    # from one small file (or a few) scans as that many tasks, so
    # spread small BATCH inputs across cores before decoding
    # (conditional: a corpus-sized scan — or a stream, whose plan has
    # no size estimate — skips the exchange, keeping the documented
    # narrow-map-over-the-scan shape at 100 TB)
    if not df.isStreaming:
        df = spread_partitions(df)
    src = (f", source STRUCT<{tiebreak_field}: BIGINT>"
           if tiebreak_field else "")
    env_fields = (f"before: STRUCT<{row_ddl}>, after: STRUCT<{row_ddl}>, "
                  f"op: STRING, ts_ms: BIGINT{src}")
    v = F.col(value_col)
    # schemas.enable=true wraps the envelope under "payload"; ONE
    # from_json whose schema carries BOTH the "payload" field and the
    # bare envelope fields parses either shape in a single pass (the
    # JSON parser null-fills whichever half is absent) — the former
    # two-from_json form parsed every value twice, and the parse is
    # the operator's dominant per-row cost. Take whichever half
    # carries an op (selecting on the struct itself would pick a
    # non-null all-NULL struct).
    both = F.from_json(
        v, f"STRUCT<payload: STRUCT<{env_fields}>, {env_fields}>")
    wrapped = both["payload"]
    bare = F.struct(*[
        both[f].alias(f)
        for f in (["before", "after", "op", "ts_ms"]
                  + (["source"] if tiebreak_field else []))])
    e = F.when(wrapped["op"].isNotNull(), wrapped).otherwise(bare)
    image = F.when(e["op"] == DELETE_OP,
                   e["before"]).otherwise(e["after"])
    tie = (e["source"][tiebreak_field].cast("bigint")
           if tiebreak_field else F.lit(0).cast("bigint"))
    # Single-element explode as a PUSHDOWN BARRIER: the op-whitelist
    # filter below references a decode-derived column, and Catalyst
    # happily pushes such filters through exchanges/unions, INLINING the
    # whole from_json (plus whatever expensive expression feeds
    # value_col) into every upstream branch — measured: the entry's
    # envelope-concat + parse ran a second time, serially, below the
    # spread exchange just to evaluate the pushed filter. A filter on a
    # generator's own output cannot cross the Generate, so the parse
    # runs exactly once, after the exchange. One-element array ⇒ same
    # rows (an explode of a non-null literal array never drops rows).
    rec = F.explode(F.array(F.struct(
        image.alias("_row"), e["op"].alias("_op"),
        e["ts_ms"].cast("bigint").alias("_seq"), tie.alias("_tie"))))
    return (df.select(rec.alias("_rec"))
            .select("_rec.*")
            .where(F.col("_op").isin(list(_UPSERT_OPS) + [DELETE_OP]))
            .select("_row.*", "_op", "_seq", "_tie"))


def debezium_state(df: DataFrame, *, row_ddl: str, key_cols: list[str],
                   value_col: str = "value",
                   tiebreak_field: str | None = None) -> DataFrame:
    """Latest non-deleted row per key from a Debezium envelope stream:
    decode + :func:`..operators.cdc.upsert_latest` (ONE window
    exchange). The same compaction the reference's Flink runtime
    applies implicitly to its mysql-cdc tables."""
    decoded = debezium_decode(df, row_ddl=row_ddl, value_col=value_col,
                              tiebreak_field=tiebreak_field)
    return (upsert_latest(decoded, key_cols, "_seq", op_col="_op",
                          delete_op=DELETE_OP, tiebreak_cols=["_tie"])
            .drop("_op", "_seq", "_tie"))


def debezium_state_stream(stream: DataFrame, *, row_ddl: str,
                          key_cols: list[str],
                          value_col: str = "value",
                          tiebreak_field: str | None = None) -> DataFrame:
    """Streaming twin of :func:`debezium_state`: continuously-maintained
    current state per key from an unbounded envelope stream (update
    output mode) — the exact shape the reference's Flink runtime gives
    its mysql-cdc tables.

    The decode is stateless (pure ``from_json`` projections, streaming-
    safe as-is); compaction delegates to
    ``streaming/cdc.py::latest_state_stream`` with ``(ts_ms, tiebreak)``
    packed into ONE ordering struct, so recency matches the batch op's
    ``ORDER BY _seq DESC, _tie DESC`` exactly. State is one row per
    live key. Deletes can't drop rows inside a streaming aggregation,
    so they ride as the standard soft-delete carry: filter
    ``NOT is_deleted`` for the batch-equal current state (the sink-side
    merge applies deletes physically — ``upsert_stream``'s contract).
    """
    from ..streaming.cdc import latest_state_stream

    decoded = debezium_decode(stream, row_ddl=row_ddl,
                              value_col=value_col,
                              tiebreak_field=tiebreak_field)
    vals = [c for c in decoded.columns
            if c not in ("_op", "_seq", "_tie") and c not in key_cols]
    ev = (decoded.withColumn("_ord", F.struct("_seq", "_tie"))
          .drop("_seq", "_tie"))
    return (latest_state_stream(ev, key_cols, "_ord", vals,
                                op_col="_op", delete_op=DELETE_OP)
            .drop("_ord"))
