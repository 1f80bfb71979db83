"""Changelog compaction: upsert/delete streams → latest-state snapshot.

The reference's tables ARE changelogs — every test table is a mysql-cdc
stream (``test/basic/AbstractBasicTest.java:179-187``) that Flink
compacts to current state implicitly in its changelog semantics. Spark
batch tables have no implicit changelog, so the engine needs the
compaction as an explicit operator: given (key, sequence, op, payload)
rows, produce the latest non-deleted row per key. This is the
merge/upsert half of any CDC ingest (Delta MERGE, Hudi upsert) expressed
as a single window computation.

Shuffle census: ONE hash exchange on the key (the window partition);
``row_number`` runs sort-locally per key group. Spark's WindowGroupLimit
pushes the rn=1 filter into the sort (top-1 per key, no full sort
materialization). At 100 TB the same single exchange holds — and if the
changelog is already bucketed by key on storage, it disappears entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def upsert_latest(df: DataFrame, key_cols: list[str], seq_col: str,
                  op_col: str | None = None, delete_op: str = "D",
                  tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Latest row per key by (seq, tiebreaks...), dropping keys whose
    latest op is a delete.

    ``tiebreak_cols`` makes same-sequence collisions deterministic
    (default: no extra tiebreak — supply one when ``seq_col`` isn't
    unique per key, or results are partitioning-dependent).
    """
    order = [F.col(seq_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    latest = (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if op_col is not None:
        latest = latest.where(F.col(op_col) != delete_op)
    return latest


def snapshot_diff(old: DataFrame, new: DataFrame, key_cols: list[str],
                  content_col: str, normalize: bool = True) -> DataFrame:
    """Corpus-version audit: per-key status between two snapshots —
    ``added`` / ``removed`` / ``changed`` / ``unchanged``.

    Change detection compares md5 of the (optionally whitespace/case-
    normalized) content, so only the fixed-width hash rides the full
    outer join, never the documents themselves — at 100 TB each side
    reduces to (key, 16-byte hash) before the one key exchange (two if
    the sides aren't co-partitioned). Output is one row per key present
    in either snapshot, ready for `groupBy(status).count()` release
    gating or an `anti-join` back to fetch the changed payloads.
    """
    def prep(df: DataFrame, name: str) -> DataFrame:
        c = F.col(content_col)
        if normalize:
            c = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
        # NULL content is a legal value, not a missing key: hash a typed
        # rendering so md5(NULL)=NULL can't masquerade as an absent side
        # (which would misreport a both-sides key as added/removed)
        typed = F.concat(F.when(c.isNull(), F.lit("n:")).otherwise("v:"),
                         F.coalesce(c, F.lit("")))
        return df.select(*key_cols, F.md5(typed).alias(name))

    o = prep(old, "_h_old")
    n = prep(new, "_h_new")
    return (
        o.join(n, key_cols, "full_outer")
        .select(
            *key_cols,
            F.when(F.col("_h_old").isNull(), "added")
             .when(F.col("_h_new").isNull(), "removed")
             .when(F.col("_h_old") != F.col("_h_new"), "changed")
             .otherwise("unchanged").alias("status"))
    )


def scd2_history(df: DataFrame, key_cols: list[str], seq_col: str,
                 value_cols: list[str], op_col: str | None = None,
                 delete_op: str = "D",
                 tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history from a changelog:
    one VERSION row per upsert, with its validity interval.

    Where :func:`upsert_latest` keeps only each key's current row,
    SCD2 keeps every version: ``valid_from`` = the row's own sequence,
    ``valid_to`` = the NEXT change's sequence for the key (any op —
    an update supersedes, a delete closes), NULL while current;
    ``is_current`` additionally requires that the key's latest op is
    not a delete (a deleted key has no current version — its last
    interval is closed by the delete row). Delete rows bound intervals
    but emit no version of their own. This is the standard warehouse
    history table (Kimball SCD Type 2) with sequence-valued validity —
    swap timestamps in via ``seq_col`` for time-based intervals.

    NULL-op contract: when ``op_col`` is given, a changelog row whose
    op is NULL is an interval-bounding NON-version — ``op <> delete_op``
    is NULL-false on BOTH engines, so the row emits no version of its
    own, yet it still bounds the previous version's ``valid_to`` via
    ``lead`` (every row participates in the window before the filter).
    Real CDC feeds can carry NULL ops; coalesce them to the upsert op
    upstream if they should version instead.

    Scale: ONE window pass over the key partitioning (lead for the
    closing bound, max_by-style last-op via the same ordered window) —
    a single hash exchange, no joins, no state beyond the window sort.
    All outputs are carried values → strict oracle by construction.
    """
    if not key_cols or not value_cols:
        raise ValueError("key_cols and value_cols must be non-empty")
    order = [F.col(seq_col).asc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    wall = (Window.partitionBy(*key_cols)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    out = (df
           .withColumn("_valid_to", F.lead(seq_col).over(w))
           .withColumn("_last_op",
                       F.last(F.col(op_col)).over(wall)
                       if op_col else F.lit(None).cast("string")))
    if op_col is not None:
        out = out.where(F.col(op_col) != delete_op)
        current = (F.col("_valid_to").isNull()
                   & (F.col("_last_op") != delete_op))
    else:
        current = F.col("_valid_to").isNull()
    return out.select(
        *key_cols, *value_cols,
        F.col(seq_col).alias("valid_from"),
        F.col("_valid_to").alias("valid_to"),
        current.alias("is_current"))
