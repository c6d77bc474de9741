"""Driver-side control files: the engine's small metadata (the load
ledger, the ``task_control`` watermarks, manifest pointers) read and
written by the driver itself, through the Hadoop ``FileSystem`` of
each path's scheme, with no Spark job and no Python worker.

A control table is a directory of small parquet files with the same
on-disk format a Spark write of its declared schema produces, so
Spark readers (``spark.read.parquet``, ``Warehouse.read``) keep
working on it. The driver reads such a table by listing its visible
files and pulling each one with a single bulk
``IOUtils.toByteArray`` call, then decoding it with pyarrow; it
writes a file by encoding it with pyarrow and streaming the bytes
under a hidden (``.``-prefixed) sibling name, then renaming it into
place, so a reader never sees half a file.

Dremel's coordinator serves metadata itself instead of running a
query for it; this is the same point at daily-pass scale, where a
Spark job costs tens of milliseconds of planning and scheduling and a
driver read of one small file about one.
"""

from __future__ import annotations

import io
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from .writer import _commit_overwrite, _fs


def is_hidden(name: str) -> bool:
    """Spark's and Hadoop's rule for files a table read skips."""
    return name.startswith(("_", "."))


def read_bytes(spark: SparkSession, path: str) -> bytes:
    """The whole file at ``path``, in one bulk JVM call."""
    fs, jpath = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        io_utils = spark.sparkContext._jvm.org.apache.commons.io.IOUtils
        return bytes(io_utils.toByteArray(stream))
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Publish ``data`` at ``path``: stream it to a hidden sibling,
    then rename that over ``path`` (delete-then-rename, checked: a
    crash between the two leaves no file at ``path``, never a torn
    one)."""
    fs, jpath = _fs(spark, path)
    tmp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        jpath.getParent(), f".{jpath.getName()}.{uuid.uuid4().hex}.tmp"
    )
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()
    if fs.exists(jpath) and not fs.delete(jpath, False):
        raise RuntimeError(f"control file: cannot replace {path}")
    if not fs.rename(tmp, jpath):
        raise RuntimeError(f"control file: rename into {path} failed")


def move(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` (a file or a directory) to ``dst``, creating
    ``dst``'s parent; checked, as Hadoop reports a failed rename by
    its return value."""
    fs, jsrc = _fs(spark, src)
    _, jdst = _fs(spark, dst)
    fs.mkdirs(jdst.getParent())
    if not fs.rename(jsrc, jdst):
        raise RuntimeError(f"control file: rename {src} -> {dst} failed")


def write_table(spark: SparkSession, path: str, table: pa.Table) -> None:
    """``table`` as one parquet file at ``path`` (see ``write_bytes``)."""
    buf = io.BytesIO()
    pq.write_table(table, buf)
    write_bytes(spark, path, buf.getvalue())


def list_files(spark: SparkSession, directory: str) -> list[str]:
    """The visible files directly under ``directory``, sorted; empty
    when it does not exist."""
    fs, jdir = _fs(spark, directory)
    if not fs.exists(jdir):
        return []
    out = []
    for st in fs.listStatus(jdir):
        if not st.isFile():
            continue
        p = st.getPath().toString()
        if not is_hidden(p.rsplit("/", 1)[-1]):
            out.append(p)
    return sorted(out)


def read_files(
    spark: SparkSession, files: list[str], schema: pa.Schema
) -> pa.Table:
    """Concatenate the parquet ``files`` as ``schema`` (its columns
    only). Files Spark wrote may store a timestamp as INT96; the cast
    brings every file to the one schema."""
    parts = [
        pq.read_table(
            io.BytesIO(read_bytes(spark, f)), columns=schema.names
        ).cast(schema)
        for f in files
    ]
    return pa.concat_tables(parts) if parts else schema.empty_table()


def read_table(
    spark: SparkSession, directory: str, schema: pa.Schema
) -> pa.Table:
    """Every visible parquet file of the table at ``directory``."""
    return read_files(spark, list_files(spark, directory), schema)


def overwrite_table(spark: SparkSession, path: str, table: pa.Table) -> None:
    """Replace the table at ``path`` with ``table``: write one file
    into the ``__tmp__`` sibling, then swap directories with the two
    checked renames of ``writer.atomic_overwrite``."""
    tmp = path.rstrip("/") + "__tmp__"
    fs, jtmp = _fs(spark, tmp)
    if fs.exists(jtmp):
        fs.delete(jtmp, True)
    write_table(spark, f"{tmp}/part-00000.parquet", table)
    _commit_overwrite(spark, path)
