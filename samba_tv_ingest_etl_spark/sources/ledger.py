"""Load ledger — the engine's replacement for Snowflake COPY load
history (file-level exactly-once, SURVEY §2.1-S5 / §4.2-3).

A directory of small parquet entry files (``schemas.LOAD_LEDGER``:
one row per already-ingested file path, per feed), read and written
on the driver through ``sources/control.py``, so neither a lookup nor
a record launches a Spark job. A load = discovered files MINUS
ledger -> stage (entry, then rows) -> commit -> move into place.

An entry file is the commit point of a load, for the TV ingest and
for curation alike. A load stages under ``<staging root>/<load_id>/``
(``load_id`` hashes its file set): its entry file ``ENTRY`` first,
then its rows. Renaming the entry into the ledger (``commit``) is the
commit; only then does ``recover_staged`` move the rows into their
table. So a load is never visible without its entry, nor recorded
without its rows, and a replay finds its files either recorded or
not, never half-recorded. Every load first calls ``recover_staged``,
which finishes or undoes whatever an earlier run left staged. A
ledger directory that a Spark job wrote reads the same way.

Scale: each lookup reads every entry file (about 1 ms each on the
driver), so ``record`` folds the entries into one file whenever more
than ``MAX_ENTRY_FILES`` are visible. Past millions of rows swap the
driver-side set for a broadcast anti-join on the file list.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from . import control
from .writer import _dir_lock, _fs

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


# The name of a staged load's entry file while it is uncommitted:
# hidden, so neither a table read nor a merge picks it up.
ENTRY = "_ledger.parquet"


def load_id(files: list[str]) -> str:
    """A load's identity: a hash of its file set, so a replay of the
    same files stages under the same name."""
    return hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()[:16]


def recover_staged(spark: SparkSession, staging_root: str, table: str) -> None:
    """Finish or undo every load staged under ``staging_root`` and
    remove its directory (the root itself stays). A load whose
    ``ENTRY`` is still inside never committed: its rows go. A
    committed load's rows merge into ``table`` (a load that stopped
    halfway through its moves resumes with what is still staged).
    Driver file operations only; one writer per table at a time."""
    fs, jroot = _fs(spark, staging_root)
    if not fs.exists(jroot):
        return
    for load in fs.listStatus(jroot):
        jload = load.getPath()
        if not fs.exists(jload.suffix("/" + ENTRY)):
            _merge_into(spark, fs, jload.toString(), table.rstrip("/"))
        if not fs.delete(jload, True):
            raise RuntimeError(f"ledger: cannot remove staged load {jload}")


def _merge_into(spark: SparkSession, fs, src: str, dst: str) -> None:
    """Move the visible entries of directory ``src`` into ``dst``. An
    entry ``dst`` lacks moves whole, in one rename (a new partition
    is one rename, not one per file); a directory both hold is merged
    level by level."""
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    for st in fs.listStatus(path(src)):
        name = st.getPath().getName()
        if control.is_hidden(name):
            continue
        if st.isDirectory() and fs.exists(path(f"{dst}/{name}")):
            _merge_into(spark, fs, f"{src}/{name}", f"{dst}/{name}")
        else:
            control.move(spark, f"{src}/{name}", f"{dst}/{name}")
