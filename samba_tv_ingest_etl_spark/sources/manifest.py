"""Manifest-committed table: atomic MULTI-partition commits on plain
parquet — the minimal MVCC discipline Delta/Iceberg formalize,
reduced to what the mutation suite needs.

Layout of a manifest table directory::

    <table>/
      data/<partition>=<value>/<uuid>/part-*.parquet   (immutable)
      _manifests/manifest_<version>.json               (immutable)
      _CURRENT                                         (atomic pointer)

A manifest maps every live partition value to the file-set directory
holding its current rows. A commit (a) writes NEW data directories (a
full Spark job per touched partition — existing files are never
modified), (b) writes the next manifest listing old dirs for
untouched partitions and new dirs for touched ones, then (c) swaps
the one-line ``_CURRENT`` pointer with the same checked-rename
discipline as ``atomic_overwrite``. Readers resolve ``_CURRENT`` →
manifest → directory list, so they see the pre-commit or post-commit
table, never a mix — this is the multi-partition atomicity the
dynamic-partition-overwrite backend trades away (its commits are
per-partition). Old versions remain readable until vacuumed
(time travel for free, at the cost of space until cleanup).

Scale notes: the manifest is O(partitions) JSON, not O(files) — each
entry points at a directory; listing happens at read time, pruned to
the partitions the reader asks for. Readers select partitions BEFORE
Spark ever lists a directory, which replaces hive partition pruning
(and beats it on object stores: no full-table LIST)."""

from __future__ import annotations

import json
import urllib.parse
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import control
from .writer import _fs

# Spark's own directory name for a NULL partition value — reusing it
# means `commit_dataframe`'s partitionBy output needs no renaming and
# the manifest key space matches hive layouts bit-for-bit.
NULL_KEY = "__HIVE_DEFAULT_PARTITION__"


class ManifestTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_col: str,
        schema: StructType | None = None,
    ):
        """``schema``: the declared schema of a read, partition column
        last. With it, no read launches a footer-inference job per
        partition directory; without it every directory is inferred."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_col = partition_col
        self.schema = schema

    # -- internals ----------------------------------------------------
    def _jpath(self, p: str):
        return self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path(p)

    def _read_text(self, p: str) -> str:
        return control.read_bytes(self.spark, p).decode("utf-8")

    def _write_text_atomic(self, fs, p: str, content: str) -> None:
        # the pointer is recoverable from _manifests if a crash lands
        # between write_bytes' delete and rename
        control.write_bytes(self.spark, p, content.encode("utf-8"))

    def _current_version(self, fs) -> int:
        cur = f"{self.path}/_CURRENT"
        if not fs.exists(self._jpath(cur)):
            return 0
        return int(self._read_text(cur).strip())

    def _read_partition(self, key: str, entry: dict) -> DataFrame:
        """One live partition's files, its value restored as a typed
        literal column (last, as in a hive read)."""
        from pyspark.sql import functions as F

        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(StructType([
                f for f in self.schema.fields
                if f.name != self.partition_col
            ]))
        return reader.parquet(entry["dir"]).withColumn(
            self.partition_col,
            F.lit(None if key == NULL_KEY else key).cast(entry["type"]),
        )

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {}
        return json.loads(
            self._read_text(f"{self.path}/_manifests/manifest_{version}.json")
        )

    # -- public API ---------------------------------------------------
    def exists(self) -> bool:
        fs, _ = _fs(self.spark, self.path)
        return bool(fs.exists(self._jpath(f"{self.path}/_CURRENT")))

    def version(self) -> int:
        fs, _ = _fs(self.spark, self.path)
        return self._current_version(fs)

    def read(self, partitions: list | None = None, version: int | None = None) -> DataFrame:
        """Snapshot read; ``partitions`` prunes to the listed values
        BEFORE any filesystem listing. ``version`` time-travels."""
        fs, _ = _fs(self.spark, self.path)
        v = self._current_version(fs) if version is None else version
        full = self._manifest(v)
        manifest = full
        if partitions is not None:
            wanted = {
                NULL_KEY if p is None else str(p) for p in partitions
            }
            manifest = {k: d for k, d in full.items() if k in wanted}
        if not full:
            raise ValueError(
                f"manifest read of {self.path}: no live partitions"
            )
        from functools import reduce

        if not manifest:
            # pruned to nothing: a typed empty frame built exactly
            # like a live slice (schema incl. nullability matches a
            # full read; limit(0) short-circuits before file reads)
            return self._read_partition(*min(full.items())).limit(0)

        parts = [
            self._read_partition(key, entry)
            for key, entry in sorted(manifest.items())
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    def commit(self, updates: dict) -> int:
        """Atomically replace the listed partitions: ``updates`` maps
        partition value -> DataFrame (or None to DROP the partition).
        All other partitions carry over unchanged. Returns the new
        version. Readers never observe a partial commit — they hold
        the old manifest until the pointer swap."""
        fs, _ = _fs(self.spark, self.path)
        base = self._current_version(fs)
        manifest = dict(self._manifest(base))
        col = self.partition_col
        for value, df in updates.items():
            key = NULL_KEY if value is None else str(value)
            if df is None:
                manifest.pop(key, None)
                continue
            dest = (
                f"{self.path}/data/{col}={key}/{uuid.uuid4().hex[:12]}"
            )
            # the partition value lives in the manifest (typed), the
            # files never store the column — same storage shape as
            # hive partitioning, resolved without directory listing
            dtype = dict(df.dtypes)[col]
            df.drop(col).write.parquet(dest)
            manifest[key] = {"dir": dest, "type": dtype}
        return self._commit_manifest(fs, base, manifest)

    def commit_dataframe(
        self,
        df: DataFrame,
        *,
        full: bool = False,
        expected_partitions: Iterable | Callable[[], Iterable] | None = None,
    ) -> int:
        """Commit every partition present in ``df`` in ONE Spark job
        (``partitionBy`` into a fresh immutable batch directory), then
        publish atomically. This is the scale path ``commit`` (one
        filtered job per partition) trades away: the input is scanned
        once no matter how many partitions it touches.

        ``full=True``: partitions absent from ``df`` are DROPPED (table
        overwrite semantics). ``expected_partitions``: values the
        caller logically rewrote — any listed value ``df`` wrote no
        rows for is dropped (the every-row-deleted case dynamic
        overwrite cannot express; same contract as
        ``writer.overwrite_partitions``). A zero-argument callable is
        called after the write job, for values that job itself
        observes (``Observation``). Readers hold the previous
        manifest until the ``_CURRENT`` swap, so a crash anywhere
        before the swap leaves the table at its old version and only
        orphans the batch directory (reclaimed by ``vacuum``)."""
        fs, _ = _fs(self.spark, self.path)
        base = self._current_version(fs)
        manifest = {} if full else dict(self._manifest(base))
        col = self.partition_col
        dtype = dict(df.dtypes)[col]
        dest = f"{self.path}/data/_commit_{uuid.uuid4().hex[:12]}"
        df.write.partitionBy(col).parquet(dest)
        # discover written partition values from the fresh batch dir:
        # one bounded LIST of a directory this job just created
        for st in fs.listStatus(self._jpath(dest)):
            name = st.getPath().getName()
            if not name.startswith(f"{col}="):
                continue  # _SUCCESS etc.
            key = urllib.parse.unquote(name[len(col) + 1:])
            manifest[key] = {"dir": f"{dest}/{name}", "type": dtype}
        if callable(expected_partitions):
            expected_partitions = expected_partitions()
        for value in expected_partitions or []:
            key = NULL_KEY if value is None else str(value)
            if manifest.get(key, {}).get("dir", "").startswith(dest):
                continue  # rewritten above
            manifest.pop(key, None)  # logically emptied: drop
        return self._commit_manifest(fs, base, manifest)

    def _commit_manifest(self, fs, base: int, manifest: dict) -> int:
        """Write the next immutable manifest, then swap ``_CURRENT``.
        The version is allocated PAST any orphaned manifest a crashed
        commit left behind (a manifest is dead until the pointer names
        it), so retries never collide with wreckage."""
        nxt = max(base, self._max_manifest_version(fs)) + 1
        mdir = self._jpath(f"{self.path}/_manifests")
        if not fs.exists(mdir):
            fs.mkdirs(mdir)
        mpath = f"{self.path}/_manifests/manifest_{nxt}.json"
        stream = fs.create(self._jpath(mpath), False)  # immutable: no overwrite
        try:
            stream.write(
                bytearray(json.dumps(manifest, sort_keys=True).encode())
            )
        finally:
            stream.close()
        self._write_text_atomic(fs, f"{self.path}/_CURRENT", str(nxt))
        return nxt

    def _max_manifest_version(self, fs) -> int:
        mdir = self._jpath(f"{self.path}/_manifests")
        if not fs.exists(mdir):
            return 0
        vs = [0]
        for st in fs.listStatus(mdir):
            name = st.getPath().getName()
            if name.startswith("manifest_") and name.endswith(".json"):
                vs.append(
                    int(name.removeprefix("manifest_").removesuffix(".json"))
                )
        return max(vs)

    def vacuum(self, keep_versions: int = 1, orphans: bool = True) -> list[str]:
        """Drop data directories referenced ONLY by manifests older
        than the ``keep_versions`` most recent (and those manifests).
        Never touches directories any kept version references.

        ``orphans=True`` additionally sweeps data directories no
        manifest references at all — the leftovers of a commit that
        crashed before its manifest/pointer landed. Single-writer
        discipline: do NOT vacuum concurrently with an in-flight
        commit, whose just-written-not-yet-published directories look
        exactly like crash orphans."""
        fs, _ = _fs(self.spark, self.path)
        cur = self._current_version(fs)
        keep = set(range(max(1, cur - keep_versions + 1), cur + 1))
        live = set()
        for v in keep:
            live |= {e["dir"] for e in self._manifest(v).values()}
        removed = []
        mdir = self._jpath(f"{self.path}/_manifests")
        if fs.exists(mdir):
            for st in fs.listStatus(mdir):
                name = st.getPath().getName()
                v = int(name.removeprefix("manifest_").removesuffix(".json"))
                if v in keep:
                    continue
                for d in (e["dir"] for e in self._manifest(v).values()):
                    if d not in live and fs.exists(self._jpath(d)):
                        if not fs.delete(self._jpath(d), True):
                            raise RuntimeError(f"vacuum failed: {d}")
                        removed.append(d)
                        live.add(d)  # don't double-delete
                fs.delete(st.getPath(), False)
        if orphans:
            removed.extend(self._sweep_orphans(fs, live))
        return sorted(set(removed))

    def _sweep_orphans(self, fs, live: set) -> list[str]:
        """Delete data dirs under ``data/`` that no kept manifest
        references: whole ``_commit_*`` batch dirs (commit_dataframe
        crashes) and unreferenced uuid dirs under ``<col>=<key>``
        (per-partition commit crashes)."""
        removed = []
        data = self._jpath(f"{self.path}/data")
        if not fs.exists(data):
            return removed
        for st in fs.listStatus(data):
            top = st.getPath()
            tpath = f"{self.path}/data/{top.getName()}"
            if top.getName().startswith("_commit_"):
                if any(d.startswith(tpath) for d in live):
                    continue
                if not fs.delete(top, True):
                    raise RuntimeError(f"vacuum orphan sweep failed: {tpath}")
                removed.append(tpath)
            elif "=" in top.getName() and st.isDirectory():
                for child in fs.listStatus(top):
                    cpath = f"{tpath}/{child.getPath().getName()}"
                    if cpath in live or not child.isDirectory():
                        continue
                    if not fs.delete(child.getPath(), True):
                        raise RuntimeError(
                            f"vacuum orphan sweep failed: {cpath}"
                        )
                    removed.append(cpath)
        return removed
