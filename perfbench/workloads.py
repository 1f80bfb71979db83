"""The three workloads. Each is a closed loop driven by one client thread.

A workload builds its op sequence from the seed once; a pass runs that whole
sequence, and a run measures whole passes, so every run executes the same
mix. Secured ops are paired with their unsecured twin, run back to back in
alternating order, so ``tax_ratio`` cancels host drift between them.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import duckdb

import __spark_entry__ as corpus
from flink_sql_security_spark.context import SecurityContext
from flink_sql_security_spark.functions import masks
from flink_sql_security_spark.presets import demo_context
from flink_sql_security_spark.sources import register_tables

from perfbench import data, policies
from perfbench.common import canonical, median

NOBODY = "nobody"  # holds no policy: the rewriter's pass-through floor


class Recorder:
    """Per-op samples of one measured window."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.secured: list[float] = []
        self.unsecured: list[float] = []  # the twin of secured[i] is [i]
        self.write_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self._logged = False

    def _timed(self, tag, fn, *args):
        t = self.tracer
        if t is not None:
            t.op = tag
            idx = t.begin("op")
        t0 = time.perf_counter()
        try:
            result, ok = fn(*args), True
        except Exception:  # a failed op is counted, never fatal
            if not self._logged:
                traceback.print_exc(file=sys.stderr)
                self._logged = True
            result, ok = None, False
        dt = time.perf_counter() - t0
        if t is not None:
            t.end(idx)
            t.op = None
        return result, ok, dt

    def paired(self, i: int, secured, unsecured, *args):
        """Secured op ``i`` and its twin, back to back; the side that runs
        first alternates from pair to pair. Returns the secured result."""
        sides = [("secured", secured), ("unsecured", unsecured)]
        if self.attempted % 2:
            sides.reverse()
        out, all_ok, times = None, True, {}
        for tag, fn in sides:
            result, ok, dt = self._timed((tag, i), fn, *args)
            all_ok &= ok
            times[tag] = dt
            if tag == "secured":
                out = result
        self.attempted += 1
        if all_ok:
            self.secured.append(times["secured"])
            self.unsecured.append(times["unsecured"])
        else:
            self.failed += 1
        return out

    def write(self, i: int, fn, *args) -> None:
        _, ok, dt = self._timed(("write", i), fn, *args)
        self.attempted += 1
        if ok:
            self.write_s.append(dt)
        else:
            self.failed += 1


def _corpus_queries() -> list[tuple[str, str, str, str]]:
    """(name, preset user, sql, DuckDB oracle sql) of the 56-query corpus."""
    return [(name, u, sql, oracle)
            for name, (u, sql, oracle) in corpus._QUERIES.items()]


class _Workload:
    def __init__(self, spark, seed: int, work_dir: str, k: int) -> None:
        self.spark, self.seed, self.work_dir, self.k = spark, seed, work_dir, k
        self.ctx: SecurityContext | None = None
        self.tracer = None  # set by run_pass: the recorder's tracer, if any

    def store_size(self) -> int:
        pm = self.ctx.policy_manager
        return len(pm.row_filter_policies) + len(pm.data_mask_policies)

    def growth_ratio(self, ops) -> float:
        """Rewritten SQL chars / input chars over the secured ops."""
        n_in = sum(len(q) for _, q in ops)
        n_out = sum(len(self.ctx.mixed_rewrite(u, q)) for u, q in ops)
        return n_out / n_in


class _CorpusWorkload(_Workload):
    """Shared set-up of the two workloads over the TPC-H-shaped corpus."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.queries = _corpus_queries()

    def make_inputs(self) -> None:
        self.tpch_dir = os.path.join(self.work_dir, "tpch")
        os.makedirs(self.tpch_dir, exist_ok=True)
        self.paths = data.write_tpch(self.seed, self.tpch_dir)

    def set_up(self) -> None:
        """Register the views, load the policy store (the demo presets, then
        the generated users) and warm the catalog."""
        register_tables(self.spark, self.tpch_dir)
        ctx = demo_context(self.spark)
        for p in policies.gateway_store(self.seed):
            ctx.add_policy(p)
        for t in data.TPCH_TABLES:
            ctx.catalog.get_table([t])
        self.ctx = ctx


class RewriteGateway(_CorpusWorkload):
    """``ctx.mixed_rewrite(user, sql)``: string in, string out. Each pass pairs
    every corpus query with one user of every role; about one op in 50 is a
    policy write (an add, later its remove)."""

    name = "rewrite_gateway"
    warmup_passes = 3

    def __init__(self, *args) -> None:
        super().__init__(*args)
        rng = random.Random(self.seed)
        ops = [("rewrite", sql, rng.choice(policies.role_users(role)))
               for _, _, sql, _ in self.queries for role in policies.ROLES]
        rng.shuffle(ops)
        writes = policies.shadow_writes(self.seed)
        n_writes = len(ops) // 49 // 2 * 2  # even: every add is removed
        for j in reversed(range(n_writes)):
            pos = (j + 1) * len(ops) // (n_writes + 1)
            ops.insert(pos, ("add" if j % 2 == 0 else "remove",
                             writes[j // 2], None))
        self.ops = ops
        query_idx = [i for i, op in enumerate(ops) if op[0] == "rewrite"]
        self.sample = sorted(rng.sample(query_idx, 40))
        self.sample_set = set(self.sample)
        self.outputs: list[list[str]] = []

    def run_pass(self, rec: Recorder) -> None:
        ctx = self.ctx
        rewrite = ctx.mixed_rewrite
        kept = {}
        for i, (kind, arg, user) in enumerate(self.ops):
            if kind == "rewrite":
                out = rec.paired(i, lambda q: rewrite(user, q),
                                 lambda q: rewrite(NOBODY, q), arg)
                if i in self.sample_set:
                    kept[i] = out
            elif kind == "add":
                rec.write(i, ctx.add_policy, arg)
            else:
                rec.write(i, ctx.remove_policy, arg)
        self.outputs.append([kept.get(i) for i in self.sample])

    def check(self) -> list[str]:
        """Sampled rewrites are identical on every pass and analyze in Spark
        with the original query's output column names and types."""
        errors = []
        first = self.outputs[0]
        for n, outs in enumerate(self.outputs[1:], 2):
            if outs != first:
                errors.append(f"pass {n} rewrote a sampled query differently")
        for i, out in zip(self.sample, first):
            _, sql, user = self.ops[i]
            if out is None:
                errors.append(f"op {i} ({user}) failed")
                continue
            want = [(f.name, f.dataType.simpleString())
                    for f in self.spark.sql(sql).schema.fields]
            got = [(f.name, f.dataType.simpleString())
                   for f in self.spark.sql(out).schema.fields]
            if want != got:
                errors.append(f"op {i} ({user}): output {got} != {want}")
        return errors

    def secured_ops(self) -> list[tuple[str, str]]:
        return [(u, q) for kind, q, u in self.ops if kind == "rewrite"]

    def premise_spans(self) -> list[str]:
        return ["ctx.mixed_rewrite"]


class SecuredPrepare(_CorpusWorkload):
    """``ctx.sql(user, sql)`` plus forced physical planning, no execution,
    paired with ``spark.sql(sql)`` plus planning. Query i of the corpus runs
    as a user of role i mod 8, so the secured SQL's shape is seed-free."""

    name = "secured_prepare"
    warmup_passes = 1
    check_every = 7  # each run executes every 7th query, offset by the seed

    def __init__(self, *args) -> None:
        super().__init__(*args)
        rng = random.Random(self.seed)
        roles = list(policies.ROLES)
        ops = [(sql, rng.choice(policies.role_users(roles[i % len(roles)])))
               for i, (_, _, sql, _) in enumerate(self.queries)]
        rng.shuffle(ops)
        self.ops = ops
        self.phase_ms: dict[str, list[int]] = {}  # Catalyst phase → ms, count

    def make_inputs(self) -> None:
        super().make_inputs()
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads={self.k}")
        for t, path in self.paths.items():
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def _prepare(self, df, secured: bool) -> None:
        qe = df._jdf.queryExecution()
        if self.tracer is None:
            qe.executedPlan()
            return
        self.tracer.call("spark.plan", qe.executedPlan)
        if secured:
            self._last = qe

    def run_pass(self, rec: Recorder) -> None:
        self.tracer = rec.tracer
        ctx, spark = self.ctx, self.spark
        for i, (sql, user) in enumerate(self.ops):
            self._last = None
            rec.paired(i, lambda q: self._prepare(ctx.sql(user, q), True),
                       lambda q: self._prepare(spark.sql(q), False), sql)
            if self._last is not None:
                _add_phases(self.phase_ms, self._last)

    def check(self) -> list[str]:
        """Execute a seeded seventh of the corpus through the secured path as
        each query's preset user and compare with ``oracle_sql()`` in DuckDB.
        Seven consecutive seeds cover the whole corpus."""
        errors = []
        for name, user, sql, oracle in self.queries[
                self.seed % self.check_every::self.check_every]:
            got = canonical(self.ctx.sql(user, sql).toPandas())
            want = canonical(self.duck.execute(oracle).df())
            if got != want:
                errors.append(f"{name}: secured result differs from oracle")
        return errors

    def secured_ops(self) -> list[tuple[str, str]]:
        return [(u, q) for q, u in self.ops]

    def premise_spans(self) -> list[str]:
        return ["spark.sql", "spark.plan"]


def _add_phases(acc: dict[str, list[int]], qe) -> None:
    """Add the Catalyst phase times of a planned query to ``acc``."""
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        slot = acc.setdefault(kv._1(), [0, 0])
        slot[0] += kv._2().durationMs()
        slot[1] += 1


def analyzed_nodes(df) -> int:
    """Operators in the analyzed plan, subquery plans included."""
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


# whole-table projections and aggregates over masked columns
SCAN_QUERIES = [
    "SELECT * FROM people",
    "SELECT full_name, count(*) AS n FROM people GROUP BY full_name",
    "SELECT year(birth_date) AS y, count(*) AS n, avg(score) AS s "
    "FROM people GROUP BY year(birth_date)",
]

# the registry's mask types, emulated in DuckDB SQL (functions.masks)
_DUCK_MASKS = {
    "MASK": masks.duckdb_mask_sql,
    "MASK_SHOW_FIRST_4": masks.duckdb_mask_show_first_n_sql,
    "MASK_SHOW_LAST_4": masks.duckdb_mask_show_last_n_sql,
    "MASK_HASH": masks.duckdb_mask_hash_sql,
    "MASK_NULL": lambda c: "NULL",
    "MASK_DATE_SHOW_YEAR": lambda c: f"CAST(date_trunc('year', {c}) AS DATE)",
    "CUSTOM": lambda c: policies.CUSTOM_TEMPLATE.format(col=c),
}


class SecuredScan(_Workload):
    """Full evaluation into the ``noop`` sink of secured queries over the
    generated ``people`` table, paired with the unsecured query."""

    name = "secured_scan"
    warmup_passes = 1

    def __init__(self, *args) -> None:
        super().__init__(*args)
        rng = random.Random(self.seed)
        self.ops = [(q, rng.choice(policies.SCAN_USERS)) for q in SCAN_QUERIES]
        rng.shuffle(self.ops)
        self.policies, self.conditions = policies.scan_policies(self.seed)
        self.jobs: list[str] = []  # job group of each traced secured op
        self.selectivity = 0.0

    def make_inputs(self) -> None:
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads={self.k}")
        self.duck.execute("SET enable_progress_bar=false")
        out = os.path.join(self.work_dir, "people")
        os.makedirs(out, exist_ok=True)
        self.path = data.write_people(self.duck, self.seed, out)
        self.duck.execute(
            f"CREATE VIEW people AS SELECT * FROM read_parquet('{self.path}')")

    def set_up(self) -> None:
        self.spark.read.parquet(self.path).createOrReplaceTempView("people")
        ctx = SecurityContext(self.spark)
        for p in self.policies:
            ctx.add_policy(p)
        for _, p in policies.mask_probe_policies().values():
            ctx.add_policy(p)
        ctx.catalog.get_table(["people"])
        self.ctx = ctx

    def _exec(self, df, secured: bool) -> None:
        writer = df.write.format("noop").mode("overwrite")
        if self.tracer is None:
            writer.save()
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.jobs)}"
        sc.setJobGroup(group, group)
        try:
            self.tracer.call("spark.exec", writer.save)
        finally:
            sc.setJobGroup("", "")
        if secured:
            self.jobs.append(group)

    def run_pass(self, rec: Recorder) -> None:
        self.tracer = rec.tracer
        ctx, spark = self.ctx, self.spark
        for i, (sql, user) in enumerate(self.ops):
            rec.paired(i, lambda q: self._exec(ctx.sql(user, q), True),
                       lambda q: self._exec(spark.sql(q), False), sql)

    def job_counts(self) -> tuple[float, float]:
        """(jobs, tasks) per secured op of the traced passes."""
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for group in self.jobs:
            for jid in st.getJobIdsForGroup(group):
                jobs += 1
                for sid in st.getJobInfo(jid).stageIds:
                    info = st.getStageInfo(sid)
                    tasks += info.numTasks if info else 0
        n = max(1, len(self.jobs))
        return jobs / n, tasks / n

    def mask_ns_per_row(self) -> dict[str, float]:
        """ns per row of a one-column secured projection per mask type (and
        of the unmasked projection, ``NONE``), median of three."""
        rows = self.spark.table("people").count()
        probes = {k: (self.ctx.sql, p.username, f"SELECT {c} FROM people")
                  for k, (c, p) in policies.mask_probe_policies().items()}
        probes["NONE"] = (lambda u, q: self.spark.sql(q), None,
                          "SELECT full_name FROM people")
        out = {}
        for kind, (run, user, sql) in probes.items():
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                run(user, sql).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            out[kind] = median(times) / rows * 1e9
        return out

    def _duck_people(self, user: str) -> str:
        cols = []
        for name, _ in self.spark.table("people").dtypes:
            kind = policies.SCAN_MASKS.get(name)
            cols.append(f"{_DUCK_MASKS[kind](name)} AS {name}" if kind
                        else name)
        return (f"SELECT {', '.join(cols)} FROM people "
                f"WHERE {self.conditions[user]}")

    def check(self) -> list[str]:
        """For every scan user, the secured table equals the DuckDB
        emulation: row for row on the ~1% of rows with ``id % 97 = 0``, and
        in its row count over the whole table."""
        errors, kept = [], []
        for user in policies.SCAN_USERS:
            secured = self.ctx.sql(user, "SELECT * FROM people")
            emulated = self._duck_people(user)
            got = canonical(secured.filter("id % 97 = 0").toPandas())
            want = canonical(self.duck.execute(
                f"SELECT * FROM ({emulated}) WHERE id % 97 = 0").df())
            if got != want:
                errors.append(f"{user}: sampled rows differ from DuckDB")
            n = secured.count()
            if n != self.duck.execute(
                    f"SELECT count(*) FROM ({emulated})").fetchone()[0]:
                errors.append(f"{user}: row count differs from DuckDB")
            kept.append(n)
        total = self.duck.execute("SELECT count(*) FROM people").fetchone()[0]
        self.selectivity = median(kept) / total
        return errors

    def secured_ops(self) -> list[tuple[str, str]]:
        return [(u, q) for q, u in self.ops]

    def premise_spans(self) -> list[str]:
        return ["spark.exec"]


WORKLOADS = {w.name: w for w in (RewriteGateway, SecuredPrepare, SecuredScan)}
