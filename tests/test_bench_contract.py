"""Contract between the package and the benchmark's span tracer
(``perfbench/spans.py``): every layer callable the tracer wraps still
exists, is wrapped while the tracer is installed, is the code a secured
query runs through, and is the original again once the tracer is removed.
A refactor that renames or bypasses one of them fails here instead of
silently zeroing a per-layer metric of ``perfbench/run.py --trace 1``."""

import inspect

from flink_sql_security_spark import (
    DataMaskPolicy, PolicyManager, RowFilterPolicy, SecurityContext,
)
from perfbench.spans import _TARGETS, Profile, Tracer


def _static(owner, attr):
    return inspect.getattr_static(owner, attr)


def test_tracer_patches_and_restores_every_target(demo_tables):
    spark = demo_tables
    targets = [(o, a) for o, a, _ in _TARGETS]
    before = {(id(o), a): (_static(o, a), a in vars(o)) for o, a in targets}
    assert "sql" not in vars(spark) and "table" not in vars(spark)

    ctx = SecurityContext(spark, PolicyManager())
    ctx.add_policy(RowFilterPolicy("u", "orders", "region = 'beijing'"))
    ctx.add_policy(DataMaskPolicy("u", "orders", "customer_name", "MASK"))
    tracer = Tracer()
    tracer.install(spark)
    try:
        for owner, attr in targets:
            assert vars(owner)[attr] is not before[(id(owner), attr)][0], (
                owner, attr)
        assert "sql" in vars(spark) and "table" in vars(spark)
        ctx.sql("u", "SELECT order_id, customer_name FROM orders")
        # ctx.sql runs the executed form, not the printed one
        ctx.mixed_rewrite("u", "SELECT order_id, customer_name FROM orders")
        ctx.table("u", "orders")
    finally:
        tracer.remove()

    for owner, attr in targets:
        original, own = before[(id(owner), attr)]
        assert _static(owner, attr) is original, (owner, attr)
        assert (attr in vars(owner)) == own, (owner, attr)
    assert "sql" not in vars(spark) and "table" not in vars(spark)

    prof = Profile(tracer.spans, lambda op: True)
    for name in ("ctx.sql", "ctx.table", "ctx.mixed_rewrite", "plans.parse",
                 "plans.qualify", "plans.print", "row_filter.visit",
                 "data_mask.visit", "policy.lookup", "catalog.get_table",
                 "spark.sql"):
        assert prof.count.get(name, 0) > 0, name
    # the per-layer metrics of run.py read these parent/child pairs
    assert prof.under_count("row_filter.visit", "plans.parse_expression") == 1
    # one wrap each from ctx.sql and ctx.mixed_rewrite
    assert prof.under_count("data_mask.visit", "catalog.get_table") == 2
