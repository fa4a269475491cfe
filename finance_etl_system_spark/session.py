"""SparkSession factory tuned for this engine.

The reference hand-pins ``spark.sql.shuffle.partitions=4`` and
``default.parallelism=4`` (reference spark-job/etl_job.py:136-137) and
runs everything through a single 2-core worker. The new engine instead
enables AQE so partition counts adapt at runtime — the setting that
actually scales from local[32] to a 1000-executor cluster — and keeps a
sane static default for local test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Scale-dependent, so env-overridable (r13, guide §2.2/§9): 32 suits
# local[32] fixtures; a production deploy sets
# SPARK_GRAFT_SHUFFLE_PARTITIONS high (e.g. 2-4x total cores) and lets
# AQE coalesce down — the initial count only needs to be an upper
# bound once adaptive coalescing is on.
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
)

# Entries of Spark's generated-class cache (``CodeGenerator``'s LRU;
# Spark's default is 100). One sf0.01 pass of the registry compiles
# 2,918 distinct classes, the 78 headline queries 1,103 and
# perfbench's query_mix about 200, so at 100 every class is evicted
# before its next use and each warm query runs Janino and the JIT
# again. 8192 holds more than two registry passes (SCALE.md). A
# static conf: the cache is a JVM-wide singleton sized when first
# used.
CODEGEN_CACHE_ENTRIES = 8192


def default_driver_mem(mem_total_kib: int) -> str:
    """Driver heap for a local-mode JVM on a host with ``mem_total_kib``
    KiB of RAM (``/proc/meminfo`` ``MemTotal``): a quarter of it, in
    MiB, clamped to 1-16 GiB."""
    return f"{max(1024, min(16 * 1024, mem_total_kib // (4 * 1024)))}m"


def _host_mem_kib() -> int:
    with open("/proc/meminfo") as fh:
        return int(next(line for line in fh if line.startswith("MemTotal")).split()[1])


def get_spark(app_name: str = "finance-etl-system-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local core count (driver contract).
    Timezone is pinned to UTC so timestamp semantics match the DuckDB
    oracle and the reference's tz-aware UTC ``consumed_at``
    (reference kafka-consumer/consumer.py:135).

    Static performance confs (driver heap, the generated-class cache
    size ``CODEGEN_CACHE_ENTRIES``) take effect only when this call
    starts the JVM. A driver-provided session, or one this call
    reuses, keeps its own sizes; results do not depend on them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # local mode runs every executor thread inside the driver JVM, and
    # pyspark's default driver heap is 1g — 32 concurrent tasks on big
    # shuffles hit GCLocker thrash/OOM there. Effective only if this
    # call creates the JVM; a cluster deploy sets its own sizes. A
    # fixed 16g overcommits small hosts: the serial test run on a 16 GB
    # host lost its JVM to it.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(
        _host_mem_kib()
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers whole-stage codegen stages in the order its query
        # stages are created, which follows which of two concurrent
        # stages finishes first; the id in the class name then makes a
        # warm run's source differ from the cached one and recompile.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # When several local-mode JVMs share one host (the parallel test
    # gate runs up to 8 of them), each JVM's GC/JIT thread pools
    # default to the MACHINE's core count — 8 x ~23 GC threads
    # oversubscribes 32 cores badly. The parallel runner passes caps
    # via this env; a single-JVM run leaves it unset (no change).
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    builder = (
        builder
        # AQE: runtime coalescing, skew-join handling, dynamic join
        # strategy switch — replaces the reference's fixed parallelism=4.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: vectorized reader + pushdown are defaults; keep
        # them pinned so a misconfigured environment can't silently
        # disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # The fixtures' events.ts is parquet TIMESTAMP(NANOS), which the
        # Spark reader rejects by default; read as long (ns since epoch)
        # and convert in catalog.load_table (ns -> us, same truncation
        # DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
