"""In-memory span tracing of the secured-query layers, from outside the
package.

``Tracer.install`` replaces the public callables of each layer with wrappers
that record a span (name, start, end, parent, op) and ``Tracer.remove``
puts the originals back, so untraced passes run the unmodified code. A
recursive call of a traced callable records no nested span of the same
name; its time stays in the outer span. Spans are kept in memory and
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time

from flink_sql_security_spark import context as ctx_mod
from flink_sql_security_spark.catalog import CatalogAdapter
from flink_sql_security_spark.context import SecurityContext
from flink_sql_security_spark.operators import row_filter as rf_mod
from flink_sql_security_spark.operators.data_mask import DataMaskVisitor
from flink_sql_security_spark.operators.row_filter import RowFilterVisitor
from flink_sql_security_spark.plans import nodes, parser
from flink_sql_security_spark.policy.manager import PolicyManager

NAME, START, END, PARENT, OP = range(5)

# (owner, attribute, span name); statement roots of Node.sql are the print
_TARGETS = [
    (SecurityContext, "mixed_rewrite", "ctx.mixed_rewrite"),
    (SecurityContext, "sql", "ctx.sql"),
    (SecurityContext, "table", "ctx.table"),
    (ctx_mod, "parse_statement", "plans.parse"),
    (ctx_mod, "qualify", "plans.qualify"),
    (rf_mod, "parse_expression", "plans.parse_expression"),
    (parser, "parse_expression", "plans.parse_expression"),
    (RowFilterVisitor, "visit", "row_filter.visit"),
    (DataMaskVisitor, "visit", "data_mask.visit"),
    (CatalogAdapter, "get_table", "catalog.get_table"),
    (PolicyManager, "get_row_filter_condition", "policy.lookup"),
    (PolicyManager, "get_data_mask_policy", "policy.lookup"),
    (PolicyManager, "get_table_mask_policies", "policy.lookup"),
    (PolicyManager, "get_data_mask_type", "policy.lookup"),
    (PolicyManager, "add_policy", "policy.write"),
    (PolicyManager, "remove_policy", "policy.write"),
] + [(cls, "sql", "plans.print")
     for cls in (nodes.Select, nodes.SetOp, nodes.With, nodes.Insert)]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op: object = None  # tag stored on every span until changed
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object, bool]] = []

    # -- spans ---------------------------------------------------------------
    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter_ns(), 0, parent, self.op])
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][END] = time.perf_counter_ns()
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span (the benchmark's own calls into Spark)."""
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def _wrapper(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack
            if stack and tracer.spans[stack[-1]][NAME] == name:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)
        return traced

    # -- patching ------------------------------------------------------------
    def _patch(self, owner, attr: str, name: str) -> None:
        own = attr in vars(owner)
        original = vars(owner)[attr] if own else getattr(owner, attr)
        setattr(owner, attr, self._wrapper(name, original))
        self._patched.append((owner, attr, original, own))

    def install(self, spark) -> None:
        """Wrap every layer callable, plus ``spark.sql`` and ``spark.table``
        on this session (the catalog's misses reach ``spark.table``)."""
        for owner, attr, name in _TARGETS:
            self._patch(owner, attr, name)
        self._patch(spark, "sql", "spark.sql")
        self._patch(spark, "table", "catalog.jvm")

    def remove(self) -> None:
        for owner, attr, original, own in reversed(self._patched):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._patched.clear()

    # -- analysis ------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start_ns", "end_ns", "parent",
                                  "op"], "spans": self.spans}, f)


class Profile:
    """Totals of a span list: inclusive and self time (ns) and counts per
    span name, restricted to spans whose op tag passes ``keep``."""

    def __init__(self, spans: list[list], keep) -> None:
        self.count: dict[str, int] = {}
        self.total: dict[str, int] = {}
        self.self_ns: dict[str, int] = {}
        # (parent name, child name) → summed child duration and count
        self.under: dict[tuple[str, str], list[int]] = {}
        child_ns = [0] * len(spans)
        for s in spans:
            if s[PARENT] >= 0:
                child_ns[s[PARENT]] += s[END] - s[START]
        for i, s in enumerate(spans):
            if not keep(s[OP]):
                continue
            name, dur = s[NAME], s[END] - s[START]
            self.count[name] = self.count.get(name, 0) + 1
            self.total[name] = self.total.get(name, 0) + dur
            self.self_ns[name] = self.self_ns.get(name, 0) + dur - child_ns[i]
            if s[PARENT] >= 0:
                acc = self.under.setdefault(
                    (spans[s[PARENT]][NAME], name), [0, 0])
                acc[0] += dur
                acc[1] += 1

    def ms(self, name: str, kind: str = "total") -> float:
        table = self.total if kind == "total" else self.self_ns
        return table.get(name, 0) / 1e6

    def under_ms(self, parent: str, child: str) -> float:
        return self.under.get((parent, child), [0, 0])[0] / 1e6

    def under_count(self, parent: str, child: str) -> int:
        return self.under.get((parent, child), [0, 0])[1]
