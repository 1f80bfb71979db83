"""NULL/empty-input parity sweep.

The curated fixtures carry no NULL or empty text, so cross-engine parity
under degenerate inputs is otherwise untested — and the review-driven
fixes (bloom NULL rows, snapshot-diff md5(NULL), rank_buckets NULL
ordering) showed exactly this class of latent contract bug. This sweep
runs representative operators over a table containing NULL, empty,
whitespace-only, and normal documents, on BOTH engines, and compares
sorted rows the way the driver does.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_sql_security_spark.functions import text as T
import oracles.text
from flink_sql_security_spark.operators import dedup as D
import oracles.dedup
from flink_sql_security_spark.operators import sketch as SK
import oracles.sketch

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, None),
    (3, ""),
    (4, "   "),
    (5, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    (6, "solo"),
]


@pytest.fixture(scope="module")
def both(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    df.createOrReplaceTempView("nulldocs")
    con = duckdb.connect()
    con.execute("CREATE TABLE nulldocs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO nulldocs VALUES (?, ?)", ROWS)
    return df, con


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in (r[c] for c in cols))
                  for r in df.collect())


def _duck(con, sql, cols):
    out = con.execute(sql).df()
    cols_sorted = sorted(out.columns)
    assert cols_sorted == sorted(cols)
    return sorted(tuple(str(v) for v in r)
                  for r in out[cols_sorted].itertuples(index=False, name=None))


def test_exact_dedup_groups_null_parity(both):
    df, con = both
    got = D.exact_dedup_groups(df)
    want = _duck(con, """
        SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                 AS dup_key,
               min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
        FROM nulldocs GROUP BY 1""", got.columns)
    assert _rows(got) == want
    # NULL texts collapse into the NULL-key group in both engines
    assert any(r[0] == "None" for r in _rows(got))


def test_jaccard_pairs_null_docs_never_pair(both):
    df, _ = both
    pairs = {(r["id_a"], r["id_b"])
             for r in D.ngram_jaccard_pairs(df, threshold=0.01).collect()}
    assert (1, 5) in pairs
    assert not any(2 in p or 3 in p or 4 in p for p in pairs)


def test_simhash_null_parity(both):
    df, con = both
    got = D.simhash(df)
    want = _duck(con, oracles.dedup.simhash_duckdb_sql("nulldocs"), got.columns)
    assert _rows(got) == want


def test_quality_and_langid_null_parity(both):
    df, con = both
    got = df.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("q"),
        T.lang_id(F.col("text")).alias("lang"))
    want = _duck(con, f"""
        SELECT doc_id, {oracles.text.quality_score_sql('text')} AS q,
               {oracles.text.lang_id_sql('text')} AS lang FROM nulldocs""",
        got.columns)
    assert _rows(got) == want


def test_fingerprint_null_parity(both):
    df, con = both
    got = df.select("doc_id",
                    T.fingerprint(F.col("text")).alias("fp"))
    want = _duck(con, f"""
        SELECT doc_id, {oracles.text.fingerprint_sql('text')} AS fp FROM nulldocs""",
        got.columns)
    assert _rows(got) == want


def test_hll_sketch_null_parity(both):
    df, con = both
    got = SK.approx_distinct_hll(df, ["text"], with_exact=False)
    want = _duck(con, oracles.sketch.approx_distinct_hll_duckdb_sql(
        "nulldocs", ["text"], with_exact=False), got.columns)
    assert _rows(got) == want


def test_cms_null_values_skipped_both_engines(both):
    df, con = both
    got = SK.cms_counters(df.select(F.col("text").alias("v")), "v",
                          width=64, depth=3)
    # DuckDB replica of the counter build over the same column
    h1 = "CAST(concat('0x', substring(md5(CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) % 64"
    h2 = "CAST(concat('0x', substring(md5(CAST(v AS VARCHAR)), 16, 15)) AS BIGINT) % 64"
    want = _duck(con, f"""
        WITH vals AS (SELECT text AS v FROM nulldocs WHERE text IS NOT NULL),
        wh AS (SELECT v, {h1} AS _h1, {h2} AS _h2 FROM vals),
        cells AS (SELECT j, (_h1 + j * _h2) % 64 AS pos
                  FROM wh, range(3) t(j))
        SELECT j AS row_j, pos, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2""", got.columns)
    assert _rows(got) == want


# ------------------------------------------- round-9 event/time ops

EVENT_ROWS = [
    (1, "2024-01-01 00:10:00", 10, 1.0, "view"),
    (1, None, 11, 2.0, "click"),            # NULL ts — must drop
    (2, "2024-01-01 05:00:00", 12, None, "purchase"),  # NULL value carries
    (None, "2024-01-01 06:00:00", 13, 3.0, "view"),    # NULL user groups
    (3, "2024-01-02 00:00:00", 14, 4.0, "purchase"),
]


def _rows_pd(df):
    """toPandas-faithful row render — the driver compares pandas frames
    on BOTH sides, so a nullable BIGINT becomes float64 on both; the
    collect()-based _rows helper would keep Spark ints and diverge."""
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return sorted(tuple(str(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))


@pytest.fixture(scope="module")
def event_both(spark):
    df = spark.createDataFrame(
        EVENT_ROWS, "user_id long, ts string, event_id long, "
        "value double, event_type string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    con = duckdb.connect()
    con.execute("CREATE TABLE nullev(user_id BIGINT, ts TIMESTAMP, "
                "event_id BIGINT, value DOUBLE, event_type VARCHAR)")
    con.executemany("INSERT INTO nullev VALUES (?, ?, ?, ?, ?)", EVENT_ROWS)
    return df, con


def test_gapfill_null_parity(event_both):
    from flink_sql_security_spark.operators.timeseries import resample_ffill
    from oracles.timeseries import resample_ffill_sql

    df, con = event_both
    got = _rows_pd(resample_ffill(df))
    want = _duck(con, resample_ffill_sql("nullev"),
                 ["user_id", "period", "value", "filled"])
    assert got == want and len(got) > 0


def test_retention_null_parity(event_both):
    from flink_sql_security_spark.operators.timeseries import retention_cohorts
    from oracles.timeseries import retention_cohorts_sql

    df, con = event_both
    got = _rows_pd(retention_cohorts(df, period="day"))
    want = _duck(con, retention_cohorts_sql("nullev", period="day"),
                 ["cohort_period", "period_offset", "n_active",
                  "n_cohort", "retention"])
    assert got == want and len(got) > 0


def test_funnel_null_parity(event_both):
    from flink_sql_security_spark.operators.funnel import funnel
    from oracles.funnel import funnel_duckdb_sql

    df, con = event_both
    got = _rows_pd(funnel(df, ["view", "purchase"], within_hours=48))
    want = _duck(con, funnel_duckdb_sql(
        "nullev", ["view", "purchase"], within_hours=48),
        ["user_id", "step_1_ts", "step_2_ts", "depth"])
    assert got == want and len(got) > 0


def test_scd2_null_parity(event_both):
    from flink_sql_security_spark.operators.cdc import scd2_history
    from oracles.cdc import scd2_history_duckdb_sql

    df, con = event_both
    got = _rows_pd(scd2_history(df, ["user_id"], "ts", ["value"],
                             op_col="event_type", delete_op="error",
                             tiebreak_cols=["event_id"]))
    want = _duck(con, scd2_history_duckdb_sql(
        "nullev", ["user_id"], "ts", ["value"], op_col="event_type",
        delete_op="error", tiebreak_cols=["event_id"]),
        ["user_id", "value", "valid_from", "valid_to", "is_current"])
    assert got == want and len(got) > 0


def test_outliers_null_parity(event_both):
    from flink_sql_security_spark.operators.profile import robust_outliers
    from oracles.profile import robust_outliers_duckdb_sql

    df, con = event_both
    got = _rows_pd(robust_outliers(df, value_col="value",
                                group_cols=["event_type"],
                                id_cols=["event_id"], k=0.5))
    want = _duck(con, robust_outliers_duckdb_sql(
        "nullev", value_col="value", group_cols=["event_type"],
        id_cols=["event_id"], k=0.5),
        ["event_type", "event_id", "value", "med", "mad", "score"])
    assert got == want
