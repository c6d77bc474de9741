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
    # Arrow for the pandas-UDF slow path (vector ops, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Snowflake's '::' casts are permissive (NULL on garbage); ANSI off
    # keeps cast/to_date NULL-on-failure semantics (SURVEY §2.8 F3/F5).
    "spark.sql.ansi.enabled": "false",
    # driver testdata writes TIMESTAMP(NANOS) parquet
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "samba_tv_ingest_etl_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
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
