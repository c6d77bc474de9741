"""Table writers: append + atomic overwrite on plain parquet.

The mutation suite (insert-only MERGE, DELETE, UPDATE — SURVEY
§4.2-2) runs on plain parquet with read-modify-write; the overwrite
must never destroy the old data before the new data is fully
committed. ``atomic_overwrite`` writes to a ``__tmp__`` sibling
directory first (a full Spark job with its own file-commit protocol),
then swaps directories with two metadata renames. A crash before the
swap leaves the table untouched; a crash between the renames leaves
the committed tmp dir recoverable on disk — the
write-new-then-swap discipline of SURVEY §4.2-4.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from ..session import inheriting_target


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


# Per-output-file target in the OPTIMIZER'S size-estimate domain
# (Catalyst row-size x row-count). The estimate is not the file size:
# array and string frames were measured landing 2.5-4.8x LARGER than
# it (SCALING_r14), since Catalyst's per-row guess for variable-width
# columns undershoots them. The target only needs the right decade —
# the point is ceil(bytes/target) files, not exact file sizes.
TARGET_FILE_EST_BYTES = 128 * 1024 * 1024


def sized(
    df: DataFrame, target_est_bytes: int = TARGET_FILE_EST_BYTES
) -> DataFrame:
    """Right-size output files at write time (optimization guide §6:
    "the small-file problem is a write-time decision"): coalesce the
    frame to ceil(estimated bytes / target) partitions so the file
    count follows DATA SIZE, not the upstream task count. Without
    this, every index/table write emits one tiny file per shuffle
    partition — a batch-sized band-index append landed 32 files per
    directory (~13 KB each) at bench scale, paying per-file
    open/commit overhead on write and per-file listing/footer/GET
    cost on every subsequent probe (the exact amplification
    SCALING_r12 §1 measured and compaction exists to undo).

    ``coalesce``, never ``repartition``: no shuffle, no sort — the
    write tasks just read more upstream partitions each. That also
    means this is ONLY for frames whose compute is already
    materialized (``localCheckpoint``) or trivial: coalescing a lazy
    plan would narrow the parallelism of the computation itself, not
    just the write. Every call site here writes a checkpoint-backed
    frame (or a cheap projection/explode of one).

    Scale-adaptive by construction: the estimate comes from
    Catalyst's statistics (propagated through projections/explodes
    of checkpointed frames — zero extra jobs, no plan-to-RDD
    conversion), so a 4 MB fixture index coalesces to one file while
    a fleet-size index keeps ceil(size/128 MB) write tasks. When the
    estimate is unavailable or absurd (unknown stats default to
    huge), ``coalesce(n >= current partitions)`` is a no-op and the
    write keeps its current shape — never worse than before."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df
    n = max(1, -(-est // max(target_est_bytes, 1)))
    if n >= 2**31:
        # unknown-stats sentinel (defaultSizeInBytes = Long.MaxValue,
        # e.g. a driver-local relation): coalesce(n) would be a no-op
        # anyway and the long overflows py4j's int dispatch — skip.
        return df
    return df.coalesce(n)


# one lock per directory ever appended to, process-wide: the staging
# clash is between any two jobs of this driver, whoever started them
_DIR_LOCKS: dict[str, threading.Lock] = {}
_DIR_LOCKS_GUARD = threading.Lock()


def _dir_lock(path: str) -> threading.Lock:
    with _DIR_LOCKS_GUARD:
        return _DIR_LOCKS.setdefault(path.rstrip("/"), threading.Lock())


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Append ``df`` to the parquet directory ``path``. Appends into
    one directory are serialised across driver threads: concurrent
    Spark appends to one directory share its ``_temporary/`` staging
    area, and the first job commit deletes it under the second job,
    which then loses (or fails to commit) its files."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    with _dir_lock(path):
        w.parquet(path)


def append_all(
    appends: list[tuple[DataFrame, str, list[str] | None]],
) -> None:
    """Several independent ``append``s whose Spark jobs run
    CONCURRENTLY from driver threads (guide §2.6 overlap). ONLY for
    callers whose recovery already tolerates a crash leaving ANY
    subset of the appends applied — the band-index contract: replays
    re-append all parts and duplicates are result-neutral downstream
    (``append_band_index`` documents docs/-without-bands/ explicitly;
    concurrency adds the mirror-image states, nothing new in kind)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(appends) == 1:
        df, path, pby = appends[0]
        append(df, path, pby)
        return
    with ThreadPoolExecutor(
        max_workers=min(len(appends), _STAGE_POOL)
    ) as pool:
        futs = [
            pool.submit(
                inheriting_target(append, df.sparkSession), df, path, pby
            )
            for df, path, pby in appends
        ]
        for f in futs:
            f.result()


def atomic_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Materialize ``df`` next to ``path``, then swap. Safe even when
    ``df`` reads from ``path`` itself (the classic self-overwrite
    footgun): the tmp write is a complete action before anything is
    removed."""
    _stage_overwrite(df, path, partition_by)
    _commit_overwrite(df.sparkSession, path)


def atomic_overwrite_all(
    writes: list[tuple[DataFrame, str, list[str] | None]],
) -> None:
    """Several independent ``atomic_overwrite``s whose Spark jobs run
    CONCURRENTLY from driver threads (optimization guide §2.6: actions
    are only sequential because the driver calls them sequentially —
    submitting independent jobs together lets one job's task tail
    back-fill with the next job's tasks), then the directory swaps
    commit SERIALLY in list order once every staging job has finished.

    Crash discipline is strictly no looser than calling
    ``atomic_overwrite`` in the same order: a crash during staging has
    committed NOTHING (all data still under ``__tmp__`` siblings); a
    crash during the commit loop leaves exactly a prefix of the list
    visible — the same states the sequential writer exposes. Callers
    therefore keep their "commit-marker last" ordering (an index's
    meta / vectors directory last in the list).

    Paths must be distinct (each staging job owns its own ``__tmp__``
    sibling). 2-3 jobs in flight is the §2.6 sweet spot; staging jobs
    beyond ``_STAGE_POOL`` queue behind the pool."""
    from concurrent.futures import ThreadPoolExecutor

    if len(writes) == 1:
        df, path, pby = writes[0]
        atomic_overwrite(df, path, pby)
        return
    with ThreadPoolExecutor(
        max_workers=min(len(writes), _STAGE_POOL)
    ) as pool:
        futs = [
            pool.submit(
                inheriting_target(_stage_overwrite, df.sparkSession),
                df, path, pby,
            )
            for df, path, pby in writes
        ]
        for f in futs:
            f.result()
    for df, path, _ in writes:
        _commit_overwrite(df.sparkSession, path)


_STAGE_POOL = 3


def _stage_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """The Spark-job half of ``atomic_overwrite``: write ``df`` to
    ``path``'s ``__tmp__`` sibling. No visible state changes."""
    spark = df.sparkSession
    tmp = path.rstrip("/") + "__tmp__"
    fs, jtmp = _fs(spark, tmp)
    if fs.exists(jtmp):
        fs.delete(jtmp, True)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)


def _commit_overwrite(spark: SparkSession, path: str) -> None:
    """The metadata half of ``atomic_overwrite``: swap the staged
    ``__tmp__`` directory into place (two renames, zero Spark jobs)."""
    tmp = path.rstrip("/") + "__tmp__"
    old = path.rstrip("/") + "__old__"
    fs, jtmp = _fs(spark, tmp)
    _, jpath = _fs(spark, path)
    jold = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(jold):
        fs.delete(jold, True)
    # Hadoop FileSystem.rename signals failure by returning False, not
    # by raising — a swallowed failure here could fall through to the
    # cleanup delete and destroy the only remaining copy. Check every
    # return and stop with __old__/__tmp__ intact for manual recovery.
    had_prev = fs.exists(jpath)
    if had_prev and not fs.rename(jpath, jold):
        raise RuntimeError(
            f"atomic_overwrite: rename {path} -> {old} failed; "
            f"table untouched, new data committed at {tmp}"
        )
    if not fs.rename(jtmp, jpath):
        raise RuntimeError(
            f"atomic_overwrite: rename {tmp} -> {path} failed; "
            + (
                f"previous table preserved at {old}"
                if had_prev
                else "no previous table existed"
            )
            + f", new data committed at {tmp}"
        )
    if had_prev and not fs.delete(jold, True):
        raise RuntimeError(
            f"atomic_overwrite: swap committed but cleanup of {old} "
            "failed; table is consistent, remove the directory manually"
        )


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    expected_partitions: Iterable | Callable[[], Iterable] | None = None,
) -> None:
    """Replace ONLY the hive partitions present in ``df``, leaving
    every other partition's files untouched (Spark's dynamic
    partition-overwrite mode). This is the 100 TB mutation path: a
    daily incremental pass that touches 2 of 500 ``panel_monday``
    partitions rewrites those 2 directories, not the table.

    ``expected_partitions``: single-column mode only — partition
    values the caller knows it logically rewrote. Any expected value
    with NO row in ``df`` (every row of that partition was deleted)
    is cleared explicitly, because dynamic overwrite can only replace
    partitions it writes; an absent partition would otherwise keep
    its stale files and resurrect deleted rows. A zero-argument
    callable is called after the write job, for values that job
    itself observes (``Observation``). The written values are
    observed at the root of the write job, so clearing costs no job.

    ``df`` may read the partitions it replaces (survivors ∪
    recomputed rows): dynamic overwrite stages every task's output
    and moves the partition directories only at job commit, after
    every task has read its input. No lineage cut is needed.

    Atomicity is per-partition (the standard Spark/Hive contract),
    not per-table like ``atomic_overwrite`` — the tradeoff is
    documented at the Warehouse layer, which keeps the atomic-swap
    path as the default backend.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if expected_partitions is not None and len(partition_by) != 1:
        raise ValueError("expected_partitions needs a single partition column")
    obs = None
    if expected_partitions is not None:
        obs = Observation()
        df = df.observe(
            obs, F.collect_set(partition_by[0]).alias("written")
        )
    # the per-write option, not the session conf: a conf toggle would
    # also switch the mode of any overwrite another thread runs meanwhile
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    if obs is None:
        return
    if callable(expected_partitions):
        expected_partitions = expected_partitions()
    written = set(obs.get["written"])
    col = partition_by[0]
    spark = df.sparkSession
    fs, _ = _fs(spark, path)
    jvm = spark.sparkContext._jvm
    for val in expected_partitions:
        if val in written:
            continue
        # hive dir name uses the partition value's string form
        sub = jvm.org.apache.hadoop.fs.Path(
            path.rstrip("/") + f"/{col}={val}"
        )
        if fs.exists(sub) and not fs.delete(sub, True):
            raise RuntimeError(
                f"overwrite_partitions: failed to clear emptied "
                f"partition {col}={val} under {path}"
            )


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str],
    files_per_partition: int = 1,
) -> None:
    """Scale-layout writer: hive-partition on ``partition_by`` (reads
    with equality/range predicates on those columns prune whole
    directories before any I/O) and sort each output file on
    ``cluster_by`` (parquet row-group min/max stats become tight and
    non-overlapping, so predicate pushdown on the cluster columns
    skips row groups inside the files that survive pruning).

    The repartition keys = partition columns + a deterministic split
    of the cluster key, so each task writes exactly one file per
    hive partition instead of tasks x partitions small files — the
    small-file problem is a write-time decision, fixed here rather
    than by a post-hoc compaction job. ``files_per_partition``
    scales write parallelism for huge partitions; within each file
    the sort order still holds.
    """
    from pyspark.sql import functions as F

    keys = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        # explicit numPartitions pins the exchange (a column-only
        # repartition is AQE-coalescible, which would fuse the splits
        # back into one task and one file)
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        part = df.withColumn(
            "_split",
            F.pmod(F.xxhash64(*cluster_by), F.lit(files_per_partition)),
        ).repartition(n, *keys, F.col("_split"))
    else:
        part = df.withColumn("_split", F.lit(0)).repartition(*keys)
    (
        part.sortWithinPartitions(*partition_by, "_split", *cluster_by)
        .drop("_split")
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed catalog table: pre-shuffle the data into
    ``num_buckets`` hash buckets on ``bucket_cols`` at WRITE time, so
    every later join or aggregation on those columns skips its
    exchange entirely (the scan reports the bucketing as its output
    partitioning). This is the co-located-join answer for repeated
    fact-to-fact joins at 100 TB: pay the shuffle once when the table
    lands, never again per query.

    Needs the session catalog (``saveAsTable``) — bucketing metadata
    lives there, not in the parquet files; a plain ``.parquet(path)``
    write silently drops it. ``sort_cols`` additionally sorts within
    buckets (merge-friendly reads + tight row-group stats)."""
    w = df.write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    w = w.bucketBy(num_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.saveAsTable(table)
