"""SparkSession factory.

Scale posture: these configs are the local-mode projection of a
1000-executor deployment. On a real cluster the same builder is used
with ``master`` unset (picked up from spark-submit) and shuffle
partitions sized ~2-3x total cores; AQE then coalesces/splits at
runtime so the static number only needs to be in the right decade.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One JVM per test run; tests and bench share the session via getOrCreate.
_DEFAULTS = {
    # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic tz for epoch<->date conversions (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas UDFs and mapInPandas (vector ops, MinHash signing).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Snowflake's '::' casts are permissive (NULL on garbage); ANSI off
    # keeps cast/to_date NULL-on-failure semantics (SURVEY §2.8 F3/F5).
    "spark.sql.ansi.enabled": "false",
    # driver testdata writes TIMESTAMP(NANOS) parquet
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Generated classes, cached by their source code. Spark's 100
    # entries are fewer than one daily pass needs: on the perfbench
    # default scale, tv_daily's set-up compiles 130 classes and its
    # first pass 56 more (llm_daily: 121 and 26), so at 100 a pass
    # recompiles what set-up compiled and every later pass recompiles
    # about 60 classes; with the working set cached, a warm pass
    # compiles the 8 whose code inlines a fresh timestamp literal.
    # The cache evicts per segment, not by one global LRU, so it is
    # sized with room to spare over those ~190.
    "spark.sql.codegen.cache.maxEntries": "512",
}


def machine_defaults() -> tuple[int, str]:
    """(cores, driver heap) that fit the machine this process runs on:
    the CPUs it may be scheduled on, and half of physical memory
    capped at 16g, leaving the other half to Python workers and the
    OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = min(16 << 10, phys // 2 >> 20)
    return len(os.sched_getaffinity(0)), f"{heap_mb}m"


def get_spark(app_name: str = "samba_tv_ingest_etl_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) and the
    driver heap to $SPARK_DRIVER_MEMORY; either one unset falls back
    to ``machine_defaults()``.
    """
    cores, heap = machine_defaults()
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", cores))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", heap))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def inheriting_target(fn, spark: SparkSession | None = None):
    """``fn`` wrapped for a worker thread: it runs with the Spark local
    properties (job group, job description, scheduler pool) the
    CALLING thread has now (``pyspark.inheritable_thread_target``).
    Jobs submitted from a plain pool thread lose them, so a job group
    set around a task would not cover the jobs its pool threads start.
    ``fn`` comes back unchanged when no SparkContext is running."""
    from pyspark import SparkContext, inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return fn
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return inheritable_thread_target(fn)
    return inheritable_thread_target(spark)(fn)
