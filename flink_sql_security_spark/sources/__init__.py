"""Source registration: parquet-backed catalog tables for the test corpus.

The reference reads MySQL-CDC changelog tables registered in a Hive catalog
(``AbstractBasicTest.java:179-233``). Here sources are parquet scans registered
as temp views — Catalyst gets full predicate pushdown / column pruning /
partition pruning on them, which is what makes the injected security
constructs free at scale (SURVEY §4). :func:`register_tables` registers the
tables side by side: each ``spark.read.parquet`` runs a one-task schema
inference job, and local Spark overlaps the independent jobs.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = TPCH_TABLES) -> None:
    """Register each ``{sf_dir}/{t}.parquet`` as temp view ``t`` (idempotent).

    Missing files are skipped. The views are registered concurrently, one
    pool thread per table: ``spark.read.parquet`` infers a file's schema with
    a one-task Spark job, and the jobs of different tables are independent.
    Each worker is wrapped in ``inheritable_thread_target``, so it runs with
    the caller's local properties (job group, scheduler pool) and tags. The
    first failing table's error is raised from this call.

    ``events.parquet`` carries TIMESTAMP(NANOS) which Spark's parquet reader
    rejects; it is read with ``nanosAsLong`` and the column floor-converted
    to µs timestamps, matching DuckDB's µs truncation of the same file. The
    conf is set in the calling thread before any worker reads, and it must
    stay set for the lifetime of the lazy scan.
    """
    from pyspark.sql import functions as F
    from pyspark.util import inheritable_thread_target

    present = [t for t in tables
               if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if not present:
        return
    if "events" in present:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    @inheritable_thread_target(spark)
    def register(t: str) -> None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        df.createOrReplaceTempView(t)

    with ThreadPoolExecutor(max_workers=len(present)) as pool:
        list(pool.map(register, present))


def register_jdbc_table(spark: SparkSession, name: str, url: str, table: str,
                        user: str = "", password: str = "",
                        partition_column: str | None = None,
                        num_partitions: int = 8,
                        lower_bound: int | None = None,
                        upper_bound: int | None = None) -> None:
    """Register a JDBC-backed table — the batch analogue of the reference's
    ``mysql-cdc`` connector tables (``AbstractBasicTest.java:179-187``).

    For scale, always pass ``partition_column`` + bounds: without them the
    whole table is read through one connection on one task. Streaming parity
    for live changelogs is ``streaming.secure_stream`` over a CDC-capable
    source (file/Kafka/Delta CDF); plain JDBC has no changelog.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC reads need lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    reader.load().createOrReplaceTempView(name)


def register_file_table(spark: SparkSession, name: str, path: str,
                        fmt: str = "parquet", **options: str) -> None:
    """Register a file-backed table (parquet/csv/json/orc); csv defaults to
    header+inferSchema for the interactive case — pass an explicit schema
    option in production so the scan doesn't pre-read the data."""
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    reader.load(path).createOrReplaceTempView(name)


def print_sink(df, n: int = 20, truncate: bool = True) -> None:
    """Batch analogue of the reference's ``print`` connector sink
    (``AbstractBasicTest.java:239-253``)."""
    df.show(n=n, truncate=truncate)


def build_session(app_name: str = "flink-sql-security-spark",
                  cpus: int | None = None,
                  hive_metastore: bool = False,
                  warehouse_dir: str | None = None,
                  metastore_url: str | None = None) -> SparkSession:
    """Session tuned for the local test harness; cluster deploys override via
    spark-submit conf. AQE handles skew-join + partition coalescing at scale.

    ``hive_metastore=True`` enables Hive catalog support — the reference's
    deployment shape (it registers a HiveCatalog and resolves
    ``hive.default.*`` through it, ``SecurityContext.java:116-121``,
    ``HiveTestUtils.java:40-67``). Tables then live in a persistent
    metastore (``spark_catalog``) instead of session temp views, and the
    security layer's schema fetch goes through HiveExternalCatalog.
    ``metastore_url`` is the javax.jdo connection URL: None uses Spark's
    default embedded Derby under the working directory; point it at a
    thrift/JDBC metastore in production. Note getOrCreate() reuses a live
    session — Hive support must be enabled by the FIRST builder in the
    process.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.master(f"local[{cpus}]")
    if hive_metastore:
        builder = builder.enableHiveSupport()
        if warehouse_dir is not None:
            builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
        if metastore_url is not None:
            builder = builder.config(
                "javax.jdo.option.ConnectionURL", metastore_url)
    return (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce INSIDE cached plans too (default false): the
        # operator library persists shuffled intermediates (graph edge
        # tables, assoc pair occurrences, dedup shingle sets …), and with
        # the default every such cache pins its pre-AQE partition count —
        # measured 64 near-empty partitions on a 28 MB edge table, and
        # every downstream stage over the cache pays that task count
        # (graph_pagerank 5.2 → 3.8 s steady at sf0.1 from this conf
        # alone). Partitioning never affects results here by the package
        # determinism contract (quantized integer sums, integer counts,
        # total-order tie-breaks — pinned by the AQE-off/local[7] pytest
        # matrix). At cluster scale the coalesce target stays
        # advisoryPartitionSizeInBytes, so large caches keep large-but-
        # full partitions — the same setting serves both regimes.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # long multi-query sessions: dropped checkpoint RDDs / broadcasts
        # are reaped by the ContextCleaner only after a JVM GC collects
        # their weak refs — with a big heap that can lag until an
        # eviction/GC storm lands mid-query (measured: sub-second queries
        # ballooning to 15s+ late in an 87-query run). A periodic GC keeps
        # cleanup paced with the workload.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def write_bucketed(df, name: str, bucket_col: str, num_buckets: int = 32,
                   sort_col: str | None = None) -> None:
    """Persist ``df`` as a bucketed catalog table (``bucketBy`` + parquet).

    Bucketing is the repeated-join/agg optimization at scale: two tables
    bucketed on the same key with the same bucket count join with NO
    exchange on either side (Spark trusts the on-disk hash layout), and
    groupBy(bucket_col) skips its shuffle too. For a 100 TB fact table
    joined every run on the same key, this converts the dominant
    per-query shuffle into a one-time write-side cost. The reference has
    no physical-layout story (it delegates to Flink); this is the
    Spark-native equivalent of co-partitioned state.

    Sorted buckets (``sort_col``) additionally enable merge-join without
    per-task sorting.
    """
    writer = df.write.mode("overwrite").format("parquet") \
        .bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)


def write_partitioned(df, name: str, partition_cols: list[str]) -> None:
    """Persist ``df`` as a directory-partitioned catalog table.

    The other half of the physical-layout story (bucketing covers join
    keys): coarse, low-cardinality predicate columns — ingest date, split,
    language, source — become directory partitions, so a filtered scan
    reads only matching directories (``PartitionFilters`` in the plan; the
    unit of skipping is a whole directory, vs parquet row-group min/max
    for everything else). On a date-partitioned 100 TB fact table a
    one-day query touches ~1/n_days of the files before a single row is
    decoded; joins against a filtered dim prune the same way at runtime
    via dynamic partition pruning. Keep partition cardinality ≲ 10⁴ —
    beyond that, listing overhead and tiny files dominate (then bucket,
    or sort within partitions instead).
    """
    df.write.mode("overwrite").format("parquet") \
        .partitionBy(*partition_cols).saveAsTable(name)


def write_compacted(df, path: str, target_file_mb: int = 256,
                    fmt: str = "parquet") -> int:
    """Write ``df`` with file sizes targeted at ``target_file_mb`` —
    the small-files remedy (and its inverse: splitting one giant file).

    A 100 TB table written from a 50k-task shuffle otherwise lands as
    50k files; listing and footer overhead then dominate every
    subsequent scan. Sizing comes from Catalyst's own statistics
    (``optimizedPlan().stats().sizeInBytes`` — column-pruned, filter-
    adjusted in-memory estimate, no extra scan); the write repartitions
    to ``ceil(size / target)`` round-robin. Returns the partition count
    used. Pair with ``zorder_layout`` when the table should also be
    multi-dimensionally clustered (range partition + sort instead of
    round-robin).
    """
    import math

    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    n = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df.repartition(n).write.mode("overwrite").format(fmt).save(path)
    return n
