"""Benchmark of the secured-query path, one workload per run.

    python3 perfbench/run.py --workload secured_prepare --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. Workloads (see ``workloads.py``):

- ``secured_prepare``: ``SecurityContext.sql`` plus forced physical planning;
  Catalyst re-planning the printed SQL dominates.
- ``secured_scan``: secured queries fully evaluated into the ``noop`` sink
  over a generated 1M-row table; execution of the injected filter and masks
  dominates.
- ``rewrite_gateway``: ``SecurityContext.mixed_rewrite`` alone; the Python
  rewriter is the whole cost. Its twin is the same rewrite for a user with no
  policy, so its tax falls when the policy layers get faster but rises when
  parsing or printing does; ``BENCHMARK.json`` therefore does not gate it.
  Its traced run is the best per-layer view of the rewriter.

A run makes its inputs from the seed, sets up five times (the median is
``setup_s``), warms up for a fixed number of passes, measures whole passes for
at least ``--seconds``, then checks the outputs. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a run that alternates untraced and traced passes, and
the spans go to ``perfbench/_out/``. The line before it holds the run's
details: Spark's ``local[k]``, warm-up and window JIT and GC time, the host
sentinel and, untraced, the absolute latency and throughput.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5

# Only paired ratios are gated: a secured op and its twin run back to back,
# so host drift cancels. Absolute latencies of identical code spread 12-36%
# (quartile distance over median, ten runs) on a shared 4-vCPU Xeon VM; they
# go to the detail line and to the per-layer metrics, ungated.
END_TO_END = {"setup_s": "s", "tax_ratio": "ratio", "tax_p50": "ratio"}
LATENCY = {"p50_ms": "ms", "p99_ms": "ms", "ops_per_s": "1/s"}
# What each layer should move. plans, catalog, policy, row_filter, data_mask
# (the Python rewriter): the gateway's latency, and secured_prepare's tax by
# at most their ~5% share; secured_scan not at all. SQL growth and the Spark
# phases: secured_prepare's tax. Execution, jobs, tasks, selectivity and
# masks: secured_scan's tax. jvm and host: nothing; they explain drift.
PER_LAYER = {
    **{f"latency.{name}": unit for name, unit in LATENCY.items()},
    "plans.parse.ms_per_op": "ms",
    "plans.qualify.ms_per_op": "ms",
    "plans.print.ms_per_op": "ms",
    "catalog.calls_per_op": "count",
    "catalog.jvm_calls_per_op": "count",
    "catalog.ms_per_op": "ms",
    "policy.lookups_per_op": "count",
    "policy.ms_per_op": "ms",
    "policy.write_ms": "ms",
    "policy.store_size": "count",
    "row_filter.ms_per_op": "ms",
    "row_filter.condition_parses_per_op": "count",
    "data_mask.ms_per_op": "ms",
    "data_mask.wraps_per_op": "count",
    "rewrite.sql_growth_ratio": "ratio",
    "spark.parsing_ms_per_op": "ms",
    "spark.analysis_ms_per_op": "ms",
    "spark.optimization_ms_per_op": "ms",
    "spark.planning_ms_per_op": "ms",
    "spark.unsecured_prepare_ms_per_op": "ms",
    "spark.analyzed_nodes_secured": "count",
    "spark.analyzed_nodes_unsecured": "count",
    "spark.exec_ms_per_op": "ms",
    "spark.unsecured_exec_ms_per_op": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "row_filter.selectivity": "ratio",
    **{f"masks.{k}.ns_per_row": "ns" for k in (
        "MASK", "MASK_SHOW_FIRST_4", "MASK_SHOW_LAST_4", "MASK_HASH",
        "MASK_NULL", "MASK_DATE_SHOW_YEAR", "CUSTOM", "NONE")},
    "jvm.jit_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.warmup_jit_ms": "ms",
    "host.sentinel_ops_per_s.start": "1/s",
    "host.sentinel_ops_per_s.end": "1/s",
    "spark.local_cores": "count",
    "trace.overhead_ratio": "ratio",
    "premise.share": "ratio",
}


def _latency(rec) -> dict[str, float]:
    """Absolute latency and throughput of the secured ops."""
    from perfbench.common import percentile

    busy = sum(rec.secured) + sum(rec.write_s)
    return {
        "p50_ms": percentile(rec.secured, 50) * 1e3,
        "p99_ms": percentile(rec.secured, 99) * 1e3,
        "ops_per_s": (len(rec.secured) + len(rec.write_s)) / busy,
    }


def _e2e(rec, setup_times) -> dict[str, float]:
    from perfbench.common import median

    return {
        "setup_s": median(setup_times),
        "tax_ratio": sum(rec.secured) / sum(rec.unsecured),
        "tax_p50": median([s / u for s, u in zip(rec.secured, rec.unsecured)]),
    }


def _layers(w, tracer, traced, untraced) -> dict[str, float]:
    """Per-layer metrics of the traced passes, per secured op."""
    from perfbench.common import percentile
    from perfbench.spans import Profile
    from perfbench.workloads import analyzed_nodes

    prof = Profile(tracer.spans, lambda op: op and op[0] == "secured")
    twin = Profile(tracer.spans, lambda op: op and op[0] == "unsecured")
    writes = Profile(tracer.spans, lambda op: op and op[0] == "write")
    every = Profile(tracer.spans, lambda op: True)
    n = max(1, len(traced.secured))
    m = {f"latency.{k}": v for k, v in _latency(untraced).items()}
    m.update({
        "plans.parse.ms_per_op": prof.ms("plans.parse", "self") / n,
        "plans.qualify.ms_per_op": prof.ms("plans.qualify", "self") / n,
        "plans.print.ms_per_op": prof.ms("plans.print", "self") / n,
        "catalog.calls_per_op": prof.count.get("catalog.get_table", 0) / n,
        "catalog.jvm_calls_per_op": prof.count.get("catalog.jvm", 0) / n,
        "catalog.ms_per_op": prof.ms("catalog.get_table") / n,
        "policy.lookups_per_op": prof.count.get("policy.lookup", 0) / n,
        "policy.ms_per_op": prof.ms("policy.lookup") / n,
        "policy.write_ms": writes.ms("policy.write")
        / max(1, writes.count.get("policy.write", 0)),
        "policy.store_size": w.store_size(),
        "row_filter.ms_per_op": (
            prof.ms("row_filter.visit", "self")
            + prof.under_ms("row_filter.visit", "plans.parse_expression")) / n,
        "row_filter.condition_parses_per_op": prof.under_count(
            "row_filter.visit", "plans.parse_expression") / n,
        "data_mask.ms_per_op": (
            prof.ms("data_mask.visit", "self")
            + prof.under_ms("data_mask.visit", "plans.parse_expression")) / n,
        "data_mask.wraps_per_op": prof.under_count(
            "data_mask.visit", "catalog.get_table") / n,
        "rewrite.sql_growth_ratio": w.growth_ratio(w.secured_ops()),
        "spark.exec_ms_per_op": prof.ms("spark.exec") / n,
        "spark.unsecured_exec_ms_per_op": twin.ms("spark.exec")
        / max(1, len(traced.unsecured)),
        "trace.overhead_ratio": percentile(traced.secured, 50)
        / percentile(untraced.secured, 50),
        "premise.share": sum(every.ms(s) for s in w.premise_spans())
        / every.ms("op"),
    })
    for phase, (ms, count) in getattr(w, "phase_ms", {}).items():
        m[f"spark.{phase}_ms_per_op"] = ms / count
    if w.name == "secured_prepare":
        m["spark.unsecured_prepare_ms_per_op"] = (
            sum(untraced.unsecured) / len(untraced.unsecured) * 1e3)
    if w.name != "rewrite_gateway":
        ops = w.secured_ops()
        m["spark.analyzed_nodes_secured"] = sum(
            analyzed_nodes(w.ctx.sql(u, q)) for u, q in ops) / len(ops)
        m["spark.analyzed_nodes_unsecured"] = sum(
            analyzed_nodes(w.spark.sql(q)) for _, q in ops) / len(ops)
    if w.name == "secured_scan":
        m["spark.jobs_per_op"], m["spark.tasks_per_op"] = w.job_counts()
        m["row_filter.selectivity"] = w.selectivity
        for kind, ns in w.mask_ns_per_row().items():
            m[f"masks.{kind}.ns_per_row"] = ns
    return m


def run(args, work_dir: str) -> tuple[dict, dict]:
    from perfbench.common import (JvmCounters, host_sentinel, local_cores,
                                  measure_passes, start_spark, stop_spark)
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Recorder

    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "sentinel_start": host_sentinel()}
    k = local_cores()
    detail["local_cores"] = k
    t0 = time.perf_counter()
    spark = start_spark(work_dir, k)
    detail["spark_start_s"] = time.perf_counter() - t0
    try:
        jvm = JvmCounters(spark)
        w = WORKLOADS[args.workload](spark, args.seed, work_dir, k)
        t0 = time.perf_counter()
        w.make_inputs()
        detail["inputs_s"] = time.perf_counter() - t0
        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.set_up()
            setup_times.append(time.perf_counter() - t0)
        detail["setup_times_s"] = setup_times

        warm = Recorder()
        (jit0, gc0), t0 = jvm.read(), time.perf_counter()
        for _ in range(w.warmup_passes):
            w.run_pass(warm)
        (jit1, gc1) = jvm.read()
        detail.update(warmup_passes=w.warmup_passes,
                      warmup_s=time.perf_counter() - t0,
                      warmup_jit_ms=jit1 - jit0, warmup_gc_ms=gc1 - gc0)

        rec = Recorder()
        tracer = traced = None
        if args.trace:
            tracer = Tracer()
            traced = Recorder(tracer)
            passes = [0]

            def one_pass() -> None:
                """Untraced and traced passes alternate."""
                if passes[0] % 2 == 0:
                    w.run_pass(rec)
                else:
                    tracer.install(spark)
                    try:
                        w.run_pass(traced)
                    finally:
                        tracer.remove()
                passes[0] += 1
            measure_passes(one_pass, args.seconds)
            if passes[0] % 2:
                one_pass()  # as many traced passes as untraced ones
        else:
            t0 = time.perf_counter()
            passes = measure_passes(lambda: w.run_pass(rec), args.seconds)
            detail.update(passes=passes, window_s=time.perf_counter() - t0)
        (jit2, gc2) = jvm.read()
        detail.update(window_jit_ms=jit2 - jit1, window_gc_ms=gc2 - gc1,
                      secured_ops=len(rec.secured))
        if len(rec.secured) <= 64:  # too few for percentiles to tell much
            detail["secured_ms"] = [round(t * 1e3, 1) for t in rec.secured]
            detail["unsecured_ms"] = [round(t * 1e3, 1)
                                      for t in rec.unsecured]

        t0 = time.perf_counter()
        errors = w.check()
        detail["check_s"] = time.perf_counter() - t0
        if warm.failed:
            errors.append(f"{warm.failed} warm-up ops failed")
        detail["errors"] = errors
        failed = rec.failed + (traced.failed if traced else 0)
        attempted = rec.attempted + (traced.attempted if traced else 0)
        if args.trace:
            metrics = _layers(w, tracer, traced, rec)
            metrics.update({
                "jvm.jit_ms": jit2 - jit1, "jvm.gc_ms": gc2 - gc1,
                "jvm.warmup_jit_ms": jit1 - jit0,
                "spark.local_cores": k,
            })
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            tracer.dump(os.path.join(
                HERE, "_out", f"{args.workload}-{args.seed}.spans.json"))
        else:
            metrics = _e2e(rec, setup_times)
            detail["latency"] = {k: {"value": v, "unit": LATENCY[k]}
                                 for k, v in _latency(rec).items()}
    finally:
        stop_spark(spark)
    detail["sentinel_end"] = host_sentinel()
    if args.trace:
        metrics["host.sentinel_ops_per_s.start"] = detail["sentinel_start"]
        metrics["host.sentinel_ops_per_s.end"] = detail["sentinel_end"]
        units = PER_LAYER
    else:
        units = END_TO_END
    result = {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics.get(name, 0.0)),
                           "unit": unit} for name, unit in units.items()},
    }
    return detail, result


def _remove(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work_dir))
    except OSError:  # another run's work directory is still there
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["rewrite_gateway", "secured_prepare",
                             "secured_scan"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # inputs, Spark scratch and temp files stay inside the checkout
    work_dir = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    sys.path[0] = ROOT  # this directory is imported as the perfbench package
    try:
        import flink_sql_security_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        _remove(work_dir)
        return 2
    try:
        detail, result = run(args, work_dir)
    finally:
        _remove(work_dir)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
