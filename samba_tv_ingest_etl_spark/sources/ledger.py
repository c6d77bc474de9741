"""Load ledger — the engine's replacement for Snowflake COPY load
history (file-level exactly-once, SURVEY §2.1-S5 / §4.2-3).

A directory of small parquet entry files (``schemas.LOAD_LEDGER``:
one row per already-ingested file path, per feed), read and written
on the driver through ``sources/control.py``, so neither a lookup nor
a record launches a Spark job. Ingest = discovered files MINUS ledger
-> read -> append -> ledger entry.

An entry file is the commit point of a load: it is published whole
by one rename, and a load's data becomes visible only after it
(``ingest.ingest_feed`` stages the data, commits the entry, then
moves the data into place; a replay finds the files either recorded
or not, never half-recorded). A directory that a Spark job wrote,
such as curation's nightly squash, reads the same way.

Scale: each lookup reads every entry file (about 1 ms each on the
driver), so ``record`` folds the entries into one file whenever more
than ``MAX_ENTRY_FILES`` are visible. Past millions of rows swap the
driver-side set for a broadcast anti-join on the file list.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from . import control
from .writer import _dir_lock, _fs

# Past this many values, a literal F.array(...) becomes one giant
# generated expression (the ISIN_LITERAL_CAP / Janino blowup class):
# fall back to a Python-local relation, whose one-off ~seconds of
# Python-runner cost is the bounded price of a bounded plan.
LITERAL_ROWS_CAP = 1024


def literal_strings_frame(spark, values: list[str], name: str):
    """One-column (``name`` string) DataFrame from a driver-side list
    of strings — the row source of curation's run manifest. JVM-born
    rows (range+explode over literals) instead of a Python-local
    relation: writing a ``createDataFrame`` result through one task
    drains every pickled partition through the Python runner at
    ~4-5 s per write action (measured, r12); the literal form writes
    in ~0.1 s. Past
    ``LITERAL_ROWS_CAP`` values the literal expression itself would
    blow up codegen, so it falls back to ``createDataFrame`` —
    ``repartition(1)``, not ``coalesce(1)``, so the pickled
    partitions drain on parallel map tasks before the single-file
    shuffle."""
    if not values:
        # explode(array()) yields a VOID column parquet refuses even
        # for zero rows — hand back a typed empty relation instead
        return spark.createDataFrame([], f"{name} string")
    if len(values) <= LITERAL_ROWS_CAP:
        return spark.range(1).select(
            F.explode(F.array(*[F.lit(v) for v in values])).alias(name)
        )
    return spark.createDataFrame(
        [(v,) for v in values], f"{name} string"
    ).repartition(1)


# A record that leaves more visible entry files than this folds them
# into one, so a lookup reads a bounded number of files.
MAX_ENTRY_FILES = 16

_ARROW = to_arrow_schema(schemas.LOAD_LEDGER)
_KEY = ["feed", "file_path"]
_KEY_ARROW = pa.schema([_ARROW.field(c) for c in _KEY])


class LoadLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    def seen(self, feed: str) -> set[str]:
        # under the fold lock: a fold deletes the files it folded, so
        # a read between its listing and its deletes would fail
        with _dir_lock(self.path):
            t = control.read_table(self.spark, self.path, _KEY_ARROW)
        return set(
            t.filter(pc.equal(t["feed"], feed))["file_path"].to_pylist()
        )

    def new_files(self, feed: str, discovered: list[str]) -> list[str]:
        seen = self.seen(feed)
        return [f for f in discovered if f not in seen]

    @staticmethod
    def entry(feed: str, files: list[str]) -> pa.Table:
        """The entry rows recording ``files`` as loaded now."""
        now = dt.datetime.now(dt.timezone.utc)
        return pa.table(
            [files, [feed] * len(files), [now] * len(files)],
            schema=_ARROW,
        )

    def record(self, feed: str, files: list[str]) -> None:
        if not files:
            return
        control.write_table(
            self.spark,
            f"{self.path}/{uuid.uuid4().hex}.parquet",
            self.entry(feed, files),
        )
        self._fold()

    def commit(self, staged_entry: str, name: str) -> None:
        """Publish an entry file written elsewhere (by ``entry`` +
        ``control.write_table``) as ``<name>.parquet``: one rename,
        the commit point of the load it records."""
        control.move(self.spark, staged_entry, f"{self.path}/{name}.parquet")
        self._fold()

    def _fold(self) -> None:
        """Fold the entry files into one once more than
        ``MAX_ENTRY_FILES`` are visible. Folds and lookups are
        serialised per directory; an entry published while a fold
        runs is not among the files it read, so it survives. A crash
        between the folded write and the deletes leaves duplicate
        rows, which the next fold drops."""
        with _dir_lock(self.path):
            files = control.list_files(self.spark, self.path)
            if len(files) <= MAX_ENTRY_FILES:
                return
            g = (
                control.read_files(self.spark, files, _ARROW)
                .group_by(_KEY)
                .aggregate([("loaded_at", "min")])
            )
            control.write_table(
                self.spark,
                f"{self.path}/fold-{uuid.uuid4().hex}.parquet",
                pa.table(
                    [g["file_path"], g["feed"], g["loaded_at_min"]],
                    schema=_ARROW,
                ),
            )
            fs, _ = _fs(self.spark, self.path)
            jvm = self.spark.sparkContext._jvm
            for f in files:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
