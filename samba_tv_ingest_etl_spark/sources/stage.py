"""Stage reader — the engine's ``COPY INTO`` front half.

A *stage* is just a base path (s3a://bucket/prefix or file:///...,
reference ``aws-s3-integration.sql:14-17``). Discovery lists the
feed's prefix through the Hadoop FileSystem API (works for S3A and
local paths alike — the same metadata-plane listing Snowflake's COPY
does), regex-filters with the verbatim COPY pattern, and hands the
explicit file list to ``spark.read.parquet`` so Catalyst still gets
parquet pushdown/pruning on the scan.

Scale: listing and the drop's schema are driver-side metadata
operations (like Snowflake's): no Spark job. For prefixes with
millions of objects, restrict ``subdirs`` to the partitions of
interest (e.g. yesterday's ``yyyy=/mm=/dd=``) so the listing itself
prunes — the incremental DAG does exactly that.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.paths import FEED_PATTERNS, partition_columns
from .writer import _fs

# the key under which a Spark-written parquet file stores its schema;
# Spark's own footer inference prefers it to the parquet types
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"
# integral types, narrowest first: a column stored at two widths
# reads at the wider one
_INTEGRAL = (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())


def list_stage_files(
    spark: SparkSession, stage_base: str, pattern: str, subdir: str = ""
) -> list[str]:
    """Recursively list ``stage_base/subdir`` and keep paths whose
    stage-relative form matches ``pattern`` (COPY PATTERN semantics:
    the regex applies to the path relative to the stage).

    The walk is ``listStatus`` per directory: the recursive
    ``listFiles`` returns ``LocatedFileStatus`` entries, each of which
    loads the file's permissions, and a local file system without
    native Hadoop does that by spawning an ``ls -ld`` process."""
    base = stage_base.rstrip("/") + ("/" + subdir.strip("/") if subdir else "")
    fs, path = _fs(spark, base)
    if not fs.exists(path):
        return []
    rx = re.compile(pattern)
    prefix = stage_base.rstrip("/") + "/"
    out: list[str] = []
    dirs = [path]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if st.isDirectory():
                dirs.append(st.getPath())
                continue
            p = st.getPath().toString()
            rel = p.split(prefix, 1)[-1] if prefix in p else p
            if rx.search(rel):
                out.append(p)
    return sorted(out)


def _footer_schema(spark: SparkSession, path: str, converter) -> T.StructType:
    """``path``'s schema as Spark's footer inference finds it: the
    Spark schema a Spark writer stored, else the parquet types
    converted under the session's conf. Reads only the footer."""
    jvm = spark.sparkContext._jvm
    fs, jpath = _fs(spark, path)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, fs.getConf()
        )
    )
    try:
        meta = reader.getFooter().getFileMetaData()
    finally:
        reader.close()
    stored = meta.getKeyValueMetaData().get(_SPARK_SCHEMA_KEY)
    text = stored if stored else converter.convert(meta.getSchema()).json()
    return T.StructType.fromJson(json.loads(text))


def _merge(schemas: list[T.StructType]) -> T.StructType:
    """The union of ``schemas``' columns in first-seen order. A column
    stored at two integer widths takes the wider; any other type
    conflict raises."""
    types: dict[str, T.DataType] = {}
    for schema in schemas:
        for f in schema.fields:
            have = types.setdefault(f.name, f.dataType)
            if have == f.dataType:
                continue
            if have not in _INTEGRAL or f.dataType not in _INTEGRAL:
                raise ValueError(
                    f"stage files disagree on column {f.name!r}: "
                    f"{have.simpleString()} vs {f.dataType.simpleString()}"
                )
            types[f.name] = max(have, f.dataType, key=_INTEGRAL.index)
    return T.StructType([T.StructField(n, t) for n, t in types.items()])


def read_stage_files(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read an explicit file list, exposing the source path as
    ``_file_path`` (reference ``metadata$filename``, SURVEY §2.1-S6)
    and deriving yyyy/mm/dd/metadata_date from it.

    The schema is the union of every file's, built on the driver from
    each file's parquet footer, and the drop is read with it: a drop
    whose files span two schema versions keeps the columns only some
    files carry (the others read them as NULL), and a column stored
    as int32 in one file and int64 in another reads as ``LongType``.
    No Spark job infers or merges the schema; the footers cost one
    small driver read per file."""
    if not files:
        raise ValueError("empty file list")
    conv = spark.sparkContext._jvm.org.apache.spark.sql.execution \
        .datasources.parquet.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        )
    schema = _merge([_footer_schema(spark, f, conv) for f in files])
    df = spark.read.schema(schema).parquet(*files).withColumn(
        "_file_path", F.col("_metadata.file_path")
    )
    for name, col in partition_columns(F.col("_file_path")).items():
        df = df.withColumn(name, col)
    return df


def discover_feed(
    spark: SparkSession, stage_base: str, feed: str, subdir: str = ""
) -> list[str]:
    return list_stage_files(spark, stage_base, FEED_PATTERNS[feed], subdir)
