"""Shared pieces of the benchmark: the Spark session, JVM and host counters,
percentiles, and the engine-independent row comparison used by the checks."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import statistics
import time

import pandas as pd


def local_cores() -> int:
    """Spark's ``local[k]``: one core is left to the driver's Python client
    and the JVM's compiler threads, and k is capped at 3 so the benchmark
    means the same thing on a larger host."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def start_spark(work_dir: str, k: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.files.maxPartitionBytes", str(8 << 20))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "wh"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class JvmCounters:
    """Cumulative JIT compile and GC milliseconds of the driver JVM, from its
    management beans."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> tuple[int, int]:
        return (self._jit.getTotalCompilationTime(),
                sum(b.getCollectionTime() for b in self._gcs))


def _sentinel_kernel() -> int:
    x = 0
    for i in range(2000):
        x = (x * 31 + i) % 1000003
    return x


def host_sentinel(seconds: float = 0.25) -> float:
    """Kernels per second of a fixed pure-Python loop. Recorded at the start
    and end of every run to show host drift; never used to rescale."""
    n, t0 = 0, time.perf_counter()
    while True:
        _sentinel_kernel()
        n += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return n / elapsed


def percentile(samples: list[float], p: int) -> float:
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def measure_passes(run_pass, seconds: float) -> int:
    """Whole passes until ``seconds`` have gone by (at least one), so every
    run executes the same mix, only repeated more or fewer times."""
    t0, passes = time.perf_counter(), 0
    while True:
        run_pass()
        passes += 1
        if time.perf_counter() - t0 >= seconds:
            return passes


# -- output comparison -------------------------------------------------------

def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        v = float(v)
        return None if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return v


def canonical(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted, values normalized so Spark's and
    DuckDB's pandas frames of the same rows compare equal."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in df[cols].astype(object).itertuples(index=False)]
    rows.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return cols, rows
