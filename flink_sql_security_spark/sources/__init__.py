"""Source registration: parquet-backed catalog tables for the test corpus.

The reference reads MySQL-CDC changelog tables registered in a Hive catalog
(``AbstractBasicTest.java:179-233``). Here sources are parquet scans registered
as temp views — Catalyst gets full predicate pushdown / column pruning /
partition pruning on them, which is what makes the injected security
constructs free at scale (SURVEY §4). :func:`register_tables` launches no
Spark job: it reads each table's parquet footer on the driver and converts it
with Spark's own parquet-to-Spark schema converter, the calls Spark's schema
inference task makes, then hands the schema to the reader.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# parquet summary files, preferred in this order for a directory's schema
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _hidden(name: str) -> bool:
    """Spark's rule for the names a file listing skips
    (``HadoopFSUtils.shouldFilterOutPathName``): a leading ``.``, a
    leading ``_`` without ``=``, a ``._COPYING_`` suffix. The parquet
    summary files ``_common_metadata`` and ``_metadata`` are kept."""
    if name.startswith(_SUMMARY_FILES):
        return False
    return (name.startswith(".") or name.endswith("._COPYING_")
            or (name.startswith("_") and "=" not in name))


def _leaf_files(directory: str) -> list[str]:
    out = []
    for entry in os.scandir(directory):
        if _hidden(entry.name):
            continue
        if entry.is_dir():
            out.extend(_leaf_files(entry.path))
        else:
            out.append(entry.path)
    return out


def _schema_file(path: str) -> str:
    """The one file whose footer Spark's parquet schema inference reads
    for ``path`` (``ParquetUtils.inferSchema`` without ``mergeSchema``).

    A file is read as itself. For a directory: the leaf files sorted by
    path, then ``_common_metadata``, else ``_metadata``, else the first
    data file. Raises ``ValueError`` naming ``path`` when it holds none.
    """
    if not os.path.isdir(path):
        return path
    leaves = sorted(_leaf_files(path))
    names = [os.path.basename(f) for f in leaves]
    for summary in _SUMMARY_FILES:
        if summary in names:
            return leaves[names.index(summary)]
    data = [f for f, n in zip(leaves, names) if n not in _SUMMARY_FILES]
    if not data:
        raise ValueError(f"no parquet file to read a schema from in {path}")
    return data[0]


def _local_dir(sf_dir: str) -> str:
    """``sf_dir`` as a local path. A ``file:`` URI maps to its path. Any
    other scheme raises ``ValueError``: the tables are listed and their
    footers picked with local file calls."""
    url = urlparse(sf_dir)
    if not url.scheme:
        return sf_dir
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        return unquote(url.path)
    raise ValueError(
        f"sf_dir must be a local path or a file: URI, got {sf_dir!r}")


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = TPCH_TABLES) -> None:
    """Register each ``{sf_dir}/{t}.parquet`` as temp view ``t`` (idempotent).

    ``sf_dir`` is a local path or a ``file:`` URI; another scheme, such as
    ``hdfs://``, raises ``ValueError``. Missing files are skipped. No Spark
    job runs. Each table's schema
    comes from one parquet footer read on the driver: the file Spark's
    inference would read (:func:`_schema_file`; for a directory,
    ``_common_metadata``, else ``_metadata``, else the first data file by
    path) is opened with ``ParquetFooterReader.readFooter`` skipping row
    groups, and ``ParquetFileFormat.readSchemaFromFooter`` converts it with
    a ``ParquetToSparkSchemaConverter`` built from the session conf — the
    embedded Spark schema when the file carries one, Spark's own parquet
    type mapping otherwise. The table is then read with that schema
    (the JVM ``read().schema(...).format("parquet").load``, which is what
    ``spark.read.schema(...).parquet`` calls), so partition columns of a
    ``k=v`` directory are still discovered from the listing.

    The footers are read and the views registered on a pool, one thread
    per table; each worker is wrapped in ``inheritable_thread_target``, so
    it runs with its own copy of the caller's local properties (job group,
    scheduler pool) and tags. The first failing table's error is raised
    from this call.

    ``events.parquet`` carries TIMESTAMP(NANOS) which Spark's parquet reader
    rejects; it is read with ``nanosAsLong`` and the column floor-converted
    to µs timestamps, matching DuckDB's µs truncation of the same file. The
    conf is set in the calling thread before the converter is built, since
    the converter reads it once, at construction; it must stay set for the
    lifetime of the lazy scan.
    """
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from pyspark.util import inheritable_thread_target

    sf_dir = _local_dir(sf_dir)
    present = [t for t in tables
               if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if not present:
        return
    if "events" in present:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    jvm = spark._jvm
    jspark = spark._jsparkSession
    state = jspark.sessionState()
    hadoop_conf = state.newHadoopConf()
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter(state.conf())
    skip_row_groups = (jvm.org.apache.parquet.format.converter
                       .ParquetMetadataConverter.SKIP_ROW_GROUPS)
    # each step of a jvm.<package>.<Class>.<method> lookup is a py4j
    # round trip: resolve the classes and static methods once per call
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath
    footer = jvm.org.apache.parquet.hadoop.Footer
    read_footer = pq.ParquetFooterReader.readFooter
    read_schema = pq.ParquetFileFormat.readSchemaFromFooter

    def footer_schema(path: str):
        """The JVM ``StructType`` Spark's inference reads for ``path``."""
        p = hadoop_path(_schema_file(path))
        meta = read_footer(input_file(p, hadoop_conf), skip_row_groups)
        return read_schema(footer(p, meta), converter)

    def register(t: str) -> None:
        path = os.path.join(sf_dir, f"{t}.parquet")
        # the JVM reader takes the footer's StructType as it is
        df = DataFrame(jspark.read().schema(footer_schema(path))
                       .format("parquet").load(path), spark)
        if t == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        df.createOrReplaceTempView(t)

    # one wrapper per table: each takes its own copy of the caller's local
    # properties. Workers sharing one copy race, because each view's SQL
    # execution writes its execution id into them ("NumberFormatException:
    # Cannot parse null string" from createOrReplaceTempView).
    jobs = [inheritable_thread_target(spark)(register) for _ in present]
    with ThreadPoolExecutor(max_workers=len(present)) as pool:
        list(pool.map(lambda job, t: job(t), jobs, present))


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
    (:func:`~flink_sql_security_spark.plan_stats.plan_size_bytes` —
    column-pruned, filter-adjusted in-memory estimate, no extra scan);
    the write repartitions to ``ceil(size / target)`` round-robin.
    Raises ``ValueError`` when the estimate is unavailable. Returns the
    partition count used. Pair with ``zorder_layout`` when the table
    should also be multi-dimensionally clustered (range partition +
    sort instead of round-robin).
    """
    import math

    from ..plan_stats import plan_size_bytes

    size = plan_size_bytes(df)
    if size is None:
        raise ValueError("write_compacted needs Catalyst's size estimate, "
                         "which this DataFrame does not expose")
    n = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df.repartition(n).write.mode("overwrite").format(fmt).save(path)
    return n
