"""Skew-mitigation helpers and the sessionization operator (batch + stateful
streaming form)."""

import datetime
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_sql_security_spark.operators.skew import (
    salted_groupby_agg, salted_groupby_count, salted_join,
)
from flink_sql_security_spark.streaming.sessionize import (
    sessionize_batch, sessionize_stream,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90% of rows) + a uniform tail
    hot = spark.range(900).select(
        F.lit("hot").alias("k"), (F.col("id") % 7).cast("double").alias("v"))
    tail = spark.range(100).select(
        F.concat(F.lit("k"), (F.col("id") % 10).cast("string")).alias("k"),
        F.col("id").cast("double").alias("v"))
    return hot.unionByName(tail)


def test_salted_count_matches_plain(skewed):
    plain = {r["k"]: r["cnt"] for r in
             skewed.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    salted = {r["k"]: r["cnt"] for r in
              salted_groupby_count(skewed, ["k"], salt_buckets=8).collect()}
    assert salted == plain
    assert salted["hot"] == 900


def test_salted_agg_matches_plain(skewed):
    plain = {r["k"]: (r["s"], r["c"], r["mn"], r["mx"]) for r in
             skewed.groupBy("k").agg(
                 F.sum("v").alias("s"), F.count("v").alias("c"),
                 F.min("v").alias("mn"), F.max("v").alias("mx")).collect()}
    salted = {r["k"]: (r["sum_v"], r["count_v"], r["min_v"], r["max_v"])
              for r in salted_groupby_agg(skewed, ["k"], "v", 8).collect()}
    assert salted == plain


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", "HOT"), ("k1", "K1"), ("k5", "K5")], ["k", "label"])
    plain = sorted(tuple(r) for r in
                   skewed.join(dim, "k").select("k", "v", "label").collect())
    salted = sorted(tuple(r) for r in
                    salted_join(skewed, dim, "k", salt_buckets=4)
                    .select("k", "v", "label").collect())
    assert salted == plain
    assert len(plain) == 900 + 10 + 10


def _ts(s):
    return datetime.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


EVENTS = [
    # user 1: two sessions split by a 2h gap
    (1, _ts("2024-01-01 10:00:00"), 1.0),
    (1, _ts("2024-01-01 10:10:00"), 2.0),
    (1, _ts("2024-01-01 10:20:00"), 3.0),
    (1, _ts("2024-01-01 13:00:00"), 4.0),
    (1, _ts("2024-01-01 13:05:00"), 5.0),
    # user 2: one session
    (2, _ts("2024-01-01 09:00:00"), 10.0),
    (2, _ts("2024-01-01 09:29:00"), 20.0),
]


@pytest.fixture(scope="module")
def events_df(spark):
    return spark.createDataFrame(EVENTS, ["user_id", "ts", "value"])


def test_sessionize_batch(events_df):
    rows = {(r["user_id"], str(r["session_start"])): r
            for r in sessionize_batch(events_df, gap_minutes=30).collect()}
    assert len(rows) == 3
    s1 = rows[(1, "2024-01-01 10:00:00")]
    assert s1["n_events"] == 3 and s1["total_value"] == 6.0
    assert str(s1["session_end"]) == "2024-01-01 10:20:00"
    s2 = rows[(1, "2024-01-01 13:00:00")]
    assert s2["n_events"] == 2 and s2["total_value"] == 9.0
    s3 = rows[(2, "2024-01-01 09:00:00")]
    assert s3["n_events"] == 2 and s3["total_value"] == 30.0


def test_sessionize_batch_exact_gap_boundary(spark):
    # gap of exactly 30min does NOT split (strict > in the operator)
    df = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 1.0),
         (1, _ts("2024-01-01 10:30:00"), 1.0)],
        ["user_id", "ts", "value"])
    assert sessionize_batch(df, gap_minutes=30).count() == 1


def test_sessionize_stream_matches_batch_sessions(spark, events_df):
    """Streaming form over a file stream: in-batch gap splits emit closed
    sessions; still-open sessions remain in state (timeout would flush them
    in a live stream)."""
    path = tempfile.mkdtemp(prefix="fss_sessions")
    try:
        events_df.write.mode("overwrite").parquet(path)
        stream = spark.readStream.schema(events_df.schema).parquet(path)
        out = sessionize_stream(stream, gap_minutes=30)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("sess_sink")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(60)
        got = {(r["user_id"], str(r["session_start"])): r
               for r in spark.table("sess_sink").collect()}
        # user 1's first session closed by the in-stream gap; open sessions
        # (1's second, 2's only) are held in state awaiting timeout
        s1 = got[(1, "2024-01-01 10:00:00")]
        assert s1["n_events"] == 3 and s1["total_value"] == 6.0
    finally:
        shutil.rmtree(path, ignore_errors=True)


# -------------------------------------------------------------- gapfill

def _gap_events(spark):
    d = datetime.datetime
    rows = [
        # user 1: events at hours 0, 0 (tie in bucket), 3 → grid 0..3
        (1, d(2024, 1, 1, 0, 10), 101, 10.0),
        (1, d(2024, 1, 1, 0, 50), 102, 20.0),
        (2, d(2024, 1, 1, 5, 0), 103, 7.0),   # single event → 1 row
        (1, d(2024, 1, 1, 3, 5), 104, 30.0),
    ]
    return spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "value"])


def test_gapfill_forward_fills_gaps(spark):
    from flink_sql_security_spark.operators.timeseries import resample_ffill

    out = sorted(map(tuple, resample_ffill(_gap_events(spark)).collect()))
    d = datetime.datetime
    assert out == [
        (1, d(2024, 1, 1, 0, 0), 20.0, False),   # latest in hour 0
        (1, d(2024, 1, 1, 1, 0), 20.0, True),    # carried
        (1, d(2024, 1, 1, 2, 0), 20.0, True),    # carried
        (1, d(2024, 1, 1, 3, 0), 30.0, False),
        (2, d(2024, 1, 1, 5, 0), 7.0, False),    # no fabricated history
    ]


def test_gapfill_tie_breaks_by_id(spark):
    """Two events at the SAME timestamp in one bucket: the higher
    event_id wins — deterministic on any partitioning."""
    from flink_sql_security_spark.operators.timeseries import resample_ffill

    d = datetime.datetime
    df = spark.createDataFrame(
        [(1, d(2024, 1, 1, 0, 30), 7, 1.0),
         (1, d(2024, 1, 1, 0, 30), 9, 2.0)],
        ["user_id", "ts", "event_id", "value"])
    [row] = resample_ffill(df).collect()
    assert row["value"] == 2.0 and row["filled"] is False


def test_gapfill_day_step(spark):
    from flink_sql_security_spark.operators.timeseries import resample_ffill

    d = datetime.datetime
    df = spark.createDataFrame(
        [(1, d(2024, 1, 1, 8, 0), 1, 5.0),
         (1, d(2024, 1, 4, 9, 0), 2, 6.0)],
        ["user_id", "ts", "event_id", "value"])
    out = sorted(map(tuple, resample_ffill(df, step="day").collect()))
    assert [r[1].day for r in out] == [1, 2, 3, 4]
    assert [r[2] for r in out] == [5.0, 5.0, 5.0, 6.0]
    assert [r[3] for r in out] == [False, True, True, False]


def test_gapfill_validates_step(spark):
    from flink_sql_security_spark.operators.timeseries import resample_ffill
    from oracles.timeseries import resample_ffill_sql

    with pytest.raises(ValueError, match="step"):
        resample_ffill(_gap_events(spark), step="minute")
    with pytest.raises(ValueError, match="step"):
        resample_ffill_sql("events", step="week")


def test_fuzz_gapfill_configs_cross_engine(spark):
    """Config fuzz: random sparse event sets (users, span, step),
    bit-equal vs the DuckDB oracle. Seed base 14142."""
    import random

    import duckdb

    from flink_sql_security_spark.operators.timeseries import resample_ffill
    from oracles.timeseries import resample_ffill_sql

    con = duckdb.connect()
    rng = random.Random(14142)
    d0 = datetime.datetime(2024, 3, 1)
    for trial in range(4):
        n_users = rng.choice([1, 3, 5])
        n_ev = rng.choice([4, 12, 30])
        step = rng.choice(["hour", "day"])
        rows = []
        for i in range(n_ev):
            rows.append((
                rng.randrange(n_users),
                d0 + datetime.timedelta(minutes=rng.randrange(60 * 24 * 9)),
                i, float(rng.randrange(100))))
        cfg = (trial, n_users, n_ev, step)
        df = spark.createDataFrame(
            rows, ["user_id", "ts", "event_id", "value"])
        got = sorted(map(tuple, resample_ffill(df, step=step).collect()))
        vals = ", ".join(
            f"({u}, TIMESTAMP '{ts}', {i}, {v})" for u, ts, i, v in rows)
        want = sorted(map(tuple, con.execute(resample_ffill_sql(
            f"(SELECT * FROM (VALUES {vals}) "
            "AS t(user_id, ts, event_id, value))",
            step=step)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# --------------------------------------------------------------- funnel

def _funnel_events(spark):
    d = datetime.datetime
    rows = [
        # user 1 completes all three in order
        (1, d(2024, 1, 1, 0), "view"), (1, d(2024, 1, 1, 1), "click"),
        (1, d(2024, 1, 1, 2), "purchase"),
        # user 2: purchase BEFORE click → depth 2
        (2, d(2024, 1, 1, 0), "view"), (2, d(2024, 1, 1, 2), "click"),
        (2, d(2024, 1, 1, 1), "purchase"),
        # user 3: never enters (no view)
        (3, d(2024, 1, 1, 0), "click"), (3, d(2024, 1, 1, 1), "purchase"),
        # user 4: same-timestamp view+click must NOT chain (strict >)
        (4, d(2024, 1, 1, 0), "view"), (4, d(2024, 1, 1, 0), "click"),
    ]
    return spark.createDataFrame(rows, ["user_id", "ts", "event_type"])


def test_funnel_order_and_strictness(spark):
    from flink_sql_security_spark.operators.funnel import funnel

    out = {r["user_id"]: r for r in funnel(
        _funnel_events(spark), ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 4}          # user 3 never entered
    assert out[1]["depth"] == 3
    assert out[2]["depth"] == 2           # purchase before click ≠ chain
    assert out[2]["step_3_ts"] is None
    assert out[4]["depth"] == 1           # ties don't chain


def test_funnel_horizon_anchors_at_entry(spark):
    """click at +1h chains; purchase at +100h breaks a 72h horizon even
    though it is <72h after the click — the horizon anchors at step 1."""
    import datetime as dt

    from flink_sql_security_spark.operators.funnel import funnel

    d = dt.datetime
    df = spark.createDataFrame(
        [(1, d(2024, 1, 1, 0), "view"), (1, d(2024, 1, 1, 1), "click"),
         (1, d(2024, 1, 5, 4), "purchase")],
        ["user_id", "ts", "event_type"])
    [row] = funnel(df, ["view", "click", "purchase"],
                   within_hours=72).collect()
    assert row["depth"] == 2 and row["step_3_ts"] is None
    [row] = funnel(df, ["view", "click", "purchase"],
                   within_hours=120).collect()
    assert row["depth"] == 3


def test_funnel_takes_earliest_chain(spark):
    """Multiple candidate events per step: each step takes the EARLIEST
    valid one (greedy-optimal for containment semantics)."""
    import datetime as dt

    from flink_sql_security_spark.operators.funnel import funnel

    d = dt.datetime
    df = spark.createDataFrame(
        [(1, d(2024, 1, 1, 0), "view"), (1, d(2024, 1, 1, 5), "view"),
         (1, d(2024, 1, 1, 2), "click"), (1, d(2024, 1, 1, 9), "click")],
        ["user_id", "ts", "event_type"])
    [row] = funnel(df, ["view", "click"]).collect()
    assert row["step_1_ts"] == d(2024, 1, 1, 0)
    assert row["step_2_ts"] == d(2024, 1, 1, 2)


def test_funnel_validates_steps(spark):
    import pytest

    from flink_sql_security_spark.operators.funnel import funnel
    from oracles.funnel import funnel_duckdb_sql

    with pytest.raises(ValueError, match="steps"):
        funnel(_funnel_events(spark), ["view"])
    with pytest.raises(ValueError, match="duplicate"):
        funnel_duckdb_sql("events", ["view", "view"])


def test_fuzz_funnel_cross_engine(spark):
    """Config fuzz: random event streams × (step count, horizon),
    bit-equal vs the DuckDB oracle. Seed 31416."""
    import datetime as dt
    import random

    import duckdb

    from flink_sql_security_spark.operators.funnel import funnel
    from oracles.funnel import funnel_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(31416)
    d0 = dt.datetime(2024, 5, 1)
    types = ["a", "b", "c", "d"]
    for trial in range(4):
        k = rng.choice([2, 3, 4])
        wh = rng.choice([None, 24, 96])
        rows = []
        for _ in range(rng.choice([30, 80])):
            rows.append((rng.randrange(8),
                         d0 + dt.timedelta(minutes=rng.randrange(60 * 200)),
                         types[rng.randrange(len(types))]))
        cfg = (trial, k, wh)
        df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
        got = sorted(map(tuple, funnel(
            df, types[:k], within_hours=wh).collect()))
        vals = ", ".join(f"({u}, TIMESTAMP '{t}', '{e}')"
                         for u, t, e in rows)
        want = sorted(map(tuple, con.execute(funnel_duckdb_sql(
            f"(SELECT * FROM (VALUES {vals}) AS t(user_id, ts, event_type))",
            types[:k], within_hours=wh)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


# ------------------------------------------------------------- retention

def test_retention_decay_and_exactness(spark):
    """Hand-built two-cohort stream: exact counts and rates, including
    a user active in a later week than their cohort."""
    import datetime as dt

    from flink_sql_security_spark.operators.timeseries import (
        retention_cohorts)

    d = dt.datetime
    # cohort A (week of Jan 1): users 1,2 — user 1 returns week+1
    # cohort B (week of Jan 8): user 3
    rows = [
        (1, d(2024, 1, 2, 10)), (2, d(2024, 1, 3, 11)),
        (1, d(2024, 1, 9, 9)),
        (3, d(2024, 1, 10, 8)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r["cohort_period"], r["period_offset"]):
           (r["n_active"], r["n_cohort"], r["retention"])
           for r in retention_cohorts(df).collect()}
    a, b = d(2024, 1, 1), d(2024, 1, 8)
    assert got[(a, 0)] == (2, 2, 1.0)
    assert got[(a, 1)] == (1, 2, 0.5)
    assert got[(b, 0)] == (1, 1, 1.0)
    assert len(got) == 3


def test_retention_validates_period(spark):
    import pytest

    from flink_sql_security_spark.operators.timeseries import retention_cohorts
    from oracles.timeseries import retention_cohorts_sql

    df = spark.createDataFrame([(1,)], "user_id long").withColumn(
        "ts", F.current_timestamp())
    with pytest.raises(ValueError, match="period"):
        retention_cohorts(df, period="month")
    with pytest.raises(ValueError, match="period"):
        retention_cohorts_sql("events", period="hour")


def test_fuzz_retention_cross_engine(spark):
    """Config fuzz: random sparse activity streams × period, bit-equal
    vs the DuckDB oracle. Seed 16181."""
    import datetime as dt
    import random

    import duckdb

    from flink_sql_security_spark.operators.timeseries import retention_cohorts
    from oracles.timeseries import retention_cohorts_sql

    con = duckdb.connect()
    rng = random.Random(16181)
    d0 = dt.datetime(2024, 2, 1)
    for trial in range(4):
        period = rng.choice(["day", "week"])
        rows = []
        for _ in range(rng.choice([20, 60])):
            rows.append((rng.randrange(6),
                         d0 + dt.timedelta(
                             minutes=rng.randrange(60 * 24 * 40))))
        cfg = (trial, period)
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = sorted(map(tuple, retention_cohorts(
            df, period=period).collect()))
        vals = ", ".join(f"({u}, TIMESTAMP '{t}')" for u, t in rows)
        want = sorted(map(tuple, con.execute(retention_cohorts_sql(
            f"(SELECT * FROM (VALUES {vals}) AS t(user_id, ts))",
            period=period)).fetchall()))
        assert got == want and len(got) > 0, cfg
    con.close()


def test_secured_funnel_matches_filtered(spark):
    """The RLS-rewritten event stream feeding the funnel equals the
    funnel over a hand-filtered table, and DIFFERS from the unfiltered
    funnel — the consent gate provably bites (an assertion a
    non-biting gate like event_type<>'error' could not make, since the
    funnel never reads that type)."""
    from flink_sql_security_spark.operators.funnel import funnel
    from flink_sql_security_spark.presets import USER_EVENTS, demo_context
    from flink_sql_security_spark.sources import register_tables

    register_tables(spark, "/root/testdata/sf0.001")
    ctx = demo_context(spark)
    steps = ["view", "click", "purchase"]
    secured = sorted(map(tuple, funnel(
        ctx.table(USER_EVENTS, "events"), steps,
        within_hours=72).collect()))
    manual = sorted(map(tuple, funnel(
        spark.table("events").where("user_id % 10 != 0"), steps,
        within_hours=72).collect()))
    raw = sorted(map(tuple, funnel(
        spark.table("events"), steps, within_hours=72).collect()))
    assert secured == manual
    assert secured != raw
    assert not any(r[0] % 10 == 0 for r in secured)


def test_funnel_attempts_reanchors(spark):
    """The ADVICE-r09 divergence case made concrete: the FIRST view's
    24h horizon times out before the purchase, but the SECOND view's
    horizon contains a full chain — entry-anchored funnel reports
    depth 2, the per-attempt op reports a depth-3 attempt."""
    import datetime as dt

    from flink_sql_security_spark.operators.funnel import (
        funnel, funnel_attempts)

    d = dt.datetime
    df = spark.createDataFrame(
        [(1, d(2024, 1, 1, 0), "view"),
         (1, d(2024, 1, 1, 5), "click"),
         (1, d(2024, 1, 3, 0), "view"),       # second attempt
         (1, d(2024, 1, 3, 6), "click"),
         (1, d(2024, 1, 3, 12), "purchase")],  # within attempt 2's 24h
        ["user_id", "ts", "event_type"])
    steps = ["view", "click", "purchase"]
    [first_touch] = funnel(df, steps, within_hours=24).collect()
    assert first_touch["depth"] == 2       # purchase beyond entry+24h
    att = {r["step_1_ts"]: r for r in funnel_attempts(
        df, steps, within_hours=24).collect()}
    assert len(att) == 2                   # one row per step-1 event
    assert att[d(2024, 1, 1, 0)]["depth"] == 2
    assert att[d(2024, 1, 3, 0)]["depth"] == 3
    # per-attempt conversion >= first-touch conversion by construction
    assert max(r["depth"] for r in att.values()) >= first_touch["depth"]


def test_fuzz_funnel_attempts_cross_engine(spark):
    """Config fuzz: random event streams × (step count, horizon,
    attempt cap), bit-equal vs the DuckDB oracle. Seed 31417."""
    import datetime as dt
    import random

    import duckdb

    from flink_sql_security_spark.operators.funnel import funnel_attempts
    from oracles.funnel import funnel_attempts_duckdb_sql

    con = duckdb.connect()
    rng = random.Random(31417)
    d0 = dt.datetime(2024, 5, 1)
    types = ["a", "b", "c", "d"]
    nonempty = 0
    for trial in range(4):
        k = rng.choice([2, 3])
        wh = rng.choice([None, 24, 96])
        cap = rng.choice([None, 2, 5, 1000])
        rows = []
        for _ in range(rng.choice([30, 80])):
            rows.append((rng.randrange(8),
                         d0 + dt.timedelta(minutes=rng.randrange(60 * 200)),
                         types[rng.randrange(len(types))]))
        cfg = (trial, k, wh, cap)
        df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
        got = sorted(map(tuple, funnel_attempts(
            df, types[:k], within_hours=wh,
            max_attempts=cap).collect()))
        vals = ", ".join(f"({u}, TIMESTAMP '{t}', '{e}')"
                         for u, t, e in rows)
        want = sorted(map(tuple, con.execute(funnel_attempts_duckdb_sql(
            f"(SELECT * FROM (VALUES {vals}) "
            f"AS t(user_id, ts, event_type))",
            types[:k], within_hours=wh,
            max_attempts=cap)).fetchall()))
        assert got == want, cfg
        nonempty += bool(got)
    assert nonempty >= 3
    con.close()


def test_funnel_attempts_cap_semantics(spark):
    """max_attempts keeps each user's EARLIEST N entries: the capped
    output is exactly the uncapped output restricted to each user's N
    smallest step-1 timestamps, first-touch rows always survive, and
    cap >= attempts is the identity (VERDICT-r10 task 2)."""
    import datetime as dt

    from flink_sql_security_spark.operators.funnel import funnel_attempts

    d = dt.datetime
    rows = []
    for u, n_att in [(1, 5), (2, 1), (3, 3)]:
        for j in range(n_att):
            rows.append((u, d(2024, 1, 1 + j, 0), "view"))
            rows.append((u, d(2024, 1, 1 + j, 2), "click"))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    steps = ["view", "click"]
    full = sorted(map(tuple, funnel_attempts(
        df, steps, max_attempts=None).collect()))
    capped = sorted(map(tuple, funnel_attempts(
        df, steps, max_attempts=2).collect()))
    by_user = {}
    for r in full:
        by_user.setdefault(r[0], []).append(r)
    want = sorted(r for u, rs in by_user.items()
                  for r in sorted(rs, key=lambda t: t[1])[:2])
    assert capped == want
    # first-touch entry survives for every user
    assert {r[0] for r in capped} == {1, 2, 3}
    # a cap above every user's attempt count is the identity,
    # as is the default cap
    assert sorted(map(tuple, funnel_attempts(
        df, steps, max_attempts=5).collect())) == full
    assert sorted(map(tuple, funnel_attempts(
        df, steps).collect())) == full
    import pytest
    with pytest.raises(ValueError, match="max_attempts"):
        funnel_attempts(df, steps, max_attempts=0)


def test_basket_cap_truncation_warns(spark, caplog):
    """The hot-basket cap logs a warning IFF it actually truncates
    (ADVICE r10): a silent support/confidence/lift shift is the thing
    being guarded against."""
    import logging

    from flink_sql_security_spark.operators.assoc import basket_rules

    df = spark.createDataFrame(
        [(1, f"i{j}") for j in range(5)] + [(2, "i0"), (2, "i1")],
        ["b_id", "item"])
    with caplog.at_level(
            logging.WARNING,
            logger="flink_sql_security_spark.operators.assoc"):
        basket_rules(df, basket_col="b_id", item_col="item",
                     min_support=1, max_basket_items=3).collect()
        assert any("truncated at least one basket" in r.message
                   for r in caplog.records)
        caplog.clear()
        basket_rules(df, basket_col="b_id", item_col="item",
                     min_support=1, max_basket_items=10).collect()
        assert not any("truncated" in r.message
                       for r in caplog.records)


def test_funnel_summary_hand_computed(spark):
    """3 entrants, 2 click, 1 purchase → reach (3,2,1), step rates
    (1.0, 2/3, 1/2), entry rates (1.0, 2/3, 1/3)."""
    import datetime as dt

    from flink_sql_security_spark.operators.funnel import funnel_summary

    d = dt.datetime
    rows = []
    for u, depth in [(1, 3), (2, 2), (3, 1)]:
        rows.append((u, d(2024, 1, 1, 0), "view"))
        if depth >= 2:
            rows.append((u, d(2024, 1, 1, 1), "click"))
        if depth >= 3:
            rows.append((u, d(2024, 1, 1, 2), "purchase"))
    out = {r["step_index"]: r for r in funnel_summary(
        spark.createDataFrame(rows, ["user_id", "ts", "event_type"]),
        ["view", "click", "purchase"]).collect()}
    assert [out[i]["n_reached"] for i in (1, 2, 3)] == [3, 2, 1]
    assert [out[i]["step_name"] for i in (1, 2, 3)] == [
        "view", "click", "purchase"]
    assert out[1]["rate_vs_prev"] == out[1]["rate_vs_entry"] == 1.0
    assert out[2]["rate_vs_prev"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[3]["rate_vs_prev"] == pytest.approx(1 / 2, abs=1e-6)
    assert out[3]["rate_vs_entry"] == pytest.approx(1 / 3, abs=1e-6)


def test_funnel_summary_zero_denominator_cross_engine(spark):
    """No entity completes step 2 → step-3 rates are NULL on BOTH
    engines (the explicit CASE guard — Spark divides to NULL at zero,
    DuckDB to inf, so an unguarded divide would hash-mismatch)."""
    import datetime as dt

    import duckdb

    from flink_sql_security_spark.operators.funnel import funnel_summary
    from oracles.funnel import funnel_summary_duckdb_sql

    d = dt.datetime
    rows = [(1, d(2024, 1, 1), "view"), (2, d(2024, 1, 2), "view")]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = sorted(map(tuple, funnel_summary(
        df, ["view", "click", "purchase"]).collect()))
    vals = ", ".join(f"({u}, TIMESTAMP '{t}', '{e}')" for u, t, e in rows)
    want = sorted(map(tuple, duckdb.connect().execute(
        funnel_summary_duckdb_sql(
            f"(SELECT * FROM (VALUES {vals}) AS t(user_id, ts, "
            f"event_type))", ["view", "click", "purchase"])).fetchall()))
    assert got == want
    by_idx = {r[0]: r for r in got}
    assert by_idx[1][2] == 2 and by_idx[2][2] == 0 and by_idx[3][2] == 0
    assert by_idx[3][3] is None        # 0/0 step rate guarded to NULL
    assert by_idx[3][4] == 0.0         # 0/2 entry rate is a real zero
