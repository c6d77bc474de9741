"""Stage reader — the engine's ``COPY INTO`` front half.

A *stage* is just a base path (s3a://bucket/prefix or file:///...,
reference ``aws-s3-integration.sql:14-17``). Discovery lists the
feed's prefix through the Hadoop FileSystem API (works for S3A and
local paths alike — the same metadata-plane listing Snowflake's COPY
does), regex-filters with the verbatim COPY pattern, and hands the
explicit file list to ``spark.read.parquet`` so Catalyst still gets
parquet pushdown/pruning on the scan.

Scale: listing is a driver-side metadata operation (like Snowflake's);
for prefixes with millions of objects, restrict ``subdirs`` to the
partitions of interest (e.g. yesterday's ``yyyy=/mm=/dd=``) so the
listing itself prunes — the incremental DAG does exactly that.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.paths import FEED_PATTERNS, partition_columns


def list_stage_files(
    spark: SparkSession, stage_base: str, pattern: str, subdir: str = ""
) -> list[str]:
    """Recursively list ``stage_base/subdir`` and keep paths whose
    stage-relative form matches ``pattern`` (COPY PATTERN semantics:
    the regex applies to the path relative to the stage)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    base = stage_base.rstrip("/") + ("/" + subdir.strip("/") if subdir else "")
    path = jvm.org.apache.hadoop.fs.Path(base)
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return []
    rx = re.compile(pattern)
    prefix = stage_base.rstrip("/") + "/"
    out: list[str] = []
    it = fs.listFiles(path, True)  # recursive
    while it.hasNext():
        p = it.next().getPath().toString()
        rel = p.split(prefix, 1)[-1] if prefix in p else p
        if rx.search(rel):
            out.append(p)
    return sorted(out)


def read_stage_files(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read an explicit file list, exposing the source path as
    ``_file_path`` (reference ``metadata$filename``, SURVEY §2.1-S6)
    and deriving yyyy/mm/dd/metadata_date from it.

    The schema is the union of every file's (``mergeSchema``): a drop
    whose files span two schema versions keeps the columns only some
    files carry, and the others read them as NULL. Inference from one
    file would drop those columns for the whole drop. The merge is
    one Spark job."""
    if not files:
        raise ValueError("empty file list")
    df = spark.read.option("mergeSchema", "true").parquet(*files).withColumn(
        "_file_path", F.col("_metadata.file_path")
    )
    for name, col in partition_columns(F.col("_file_path")).items():
        df = df.withColumn(name, col)
    return df


def discover_feed(
    spark: SparkSession, stage_base: str, feed: str, subdir: str = ""
) -> list[str]:
    return list_stage_files(spark, stage_base, FEED_PATTERNS[feed], subdir)
