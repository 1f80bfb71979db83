"""Focused pins for the r12 ADVICE fixes: diagnosability of the Arrow
kernels' NaN rejection (the error must NAME the offending row, like the
expr paths' assert_true message)."""

import math

import pytest


def test_opq_rotate_arrow_nan_error_names_row(spark):
    """A NaN element (not NULL — that path already named the row) must
    fail with the offending vec_id in the message, matching the expr
    path's contract."""
    from flink_sql_security_spark.operators import opq as O

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R, _ = O.opq_train(emb, m=4, k=8, iters=1, opq_iters=1)
    d = len(R)
    vec = [0.5] * d
    vec[3] = math.nan
    bad = spark.createDataFrame([(777, vec)],
                                "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="777"):
        O.opq_rotate(bad, R, impl="arrow").collect()


def test_rp_project_nan_error_names_row(spark):
    """Same contract for the shared rp/pca Arrow kernel."""
    from flink_sql_security_spark.operators import projection as RP

    vec = [0.5] * 64
    vec[5] = math.nan
    bad = spark.createDataFrame([(4242, vec)],
                                "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="4242"):
        RP.rp_project(bad, in_dim=64, out_dim=8).collect()


def test_capped_items_nonnullable_keys_and_null_drop(spark):
    """The r12 nullability rebrand in _capped_items must (a) mark b/i
    schema-non-nullable for numeric/string keys — what stops Catalyst
    inferring isnotnull Filter chains over every cached scan in the
    Apriori ladder — and (b) still DROP null-keyed input rows exactly
    as before (the rebrand sits after the real null filter, so its
    coalesce branch is dead)."""
    from flink_sql_security_spark.operators.assoc import _capped_items

    df = spark.createDataFrame(
        [(1, "a"), (1, None), (None, "b"), (2, "a"), (1, "c")],
        "b long, i string")
    bi = _capped_items(df, "b", "i", 1000)
    assert not bi.schema["b"].nullable
    assert not bi.schema["i"].nullable
    rows = sorted((r["b"], r["i"]) for r in bi.collect())
    assert rows == [(1, "a"), (1, "c"), (2, "a")]
    # inferred-filter pin: the 3to1 ladder's executed plan must not
    # carry isnotnull Filters over the cached intermediate keys
    from flink_sql_security_spark.operators.assoc import basket_rules
    from flink_sql_security_spark.operators.cache import release

    big = spark.createDataFrame(
        [(b, i) for b in range(30) for i in range(b % 5 + 2)],
        "b long, i long")
    out = basket_rules(big, basket_col="b", item_col="i")
    plan = out._jdf.queryExecution().executedPlan().toString()
    release(out)
    import re
    # the ONE legitimate isnotnull filter is the explicit null drop on
    # the RAW input columns; the formerly-inferred chains referenced
    # the derived pair keys x/y (and the capped b/i downstream of the
    # rebrand, which share their expr ids with x/y's children)
    bad = [l for l in plan.splitlines()
           if "Filter" in l and re.search(r"isnotnull\((x|y)#", l)]
    assert not bad, bad
