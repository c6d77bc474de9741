"""atomic_overwrite crash-safety: rename failures must never destroy
the last remaining copy of the table, a swap that crashed between its
renames is finished before the next overwrite, and the happy path must
clean up both sibling directories. delete_by_keys must not force a
driver-side broadcast (AQE sizes the key set at runtime)."""

from __future__ import annotations

import os
import shutil

import pytest

from samba_tv_ingest_etl_spark.operators.merge import delete_by_keys
from samba_tv_ingest_etl_spark.sources import writer


def _mk(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k int")


def test_atomic_overwrite_happy_path_cleans_up(spark, tmp_path):
    path = str(tmp_path / "t")
    writer.atomic_overwrite(_mk(spark, [1, 2, 3]), path)
    writer.atomic_overwrite(_mk(spark, [4, 5]), path)
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == [4, 5]
    assert not os.path.exists(path + "__old__")
    assert not os.path.exists(path + "__tmp__")


def test_atomic_overwrite_self_read(spark, tmp_path):
    # the classic self-overwrite footgun: df reads from the target
    path = str(tmp_path / "t")
    writer.atomic_overwrite(_mk(spark, [1, 2, 3, 4]), path)
    df = spark.read.parquet(path).filter("k > 2")
    writer.atomic_overwrite(df, path)
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == [3, 4]


class _FailRenameTo:
    """Wrap the JVM FileSystem; fail renames whose destination path
    ends with the given suffix (Hadoop-style: return False)."""

    def __init__(self, fs, fail_dst_suffix: str):
        self._fs = fs
        self._suffix = fail_dst_suffix

    def rename(self, src, dst):
        if str(dst).endswith(self._suffix):
            return False
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_atomic_overwrite_failed_swap_preserves_data(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    writer.atomic_overwrite(_mk(spark, [1, 2, 3]), path)

    real_fs = writer._fs

    def patched(sp, p):
        fs, jp = real_fs(sp, p)
        return _FailRenameTo(fs, os.path.basename(path)), jp

    monkeypatch.setattr(writer, "_fs", patched)
    with pytest.raises(RuntimeError, match="rename"):
        writer.atomic_overwrite(_mk(spark, [9]), path)
    monkeypatch.undo()

    # the failed tmp->path rename must leave both copies on disk:
    # the previous table at __old__ and the new data at __tmp__
    old = sorted(r.k for r in spark.read.parquet(path + "__old__").collect())
    assert old == [1, 2, 3]
    new = sorted(r.k for r in spark.read.parquet(path + "__tmp__").collect())
    assert new == [9]


def test_atomic_overwrite_failed_backup_rename_leaves_table(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    writer.atomic_overwrite(_mk(spark, [1, 2, 3]), path)

    real_fs = writer._fs

    def patched(sp, p):
        fs, jp = real_fs(sp, p)
        return _FailRenameTo(fs, "__old__"), jp

    monkeypatch.setattr(writer, "_fs", patched)
    with pytest.raises(RuntimeError, match="untouched"):
        writer.atomic_overwrite(_mk(spark, [9]), path)
    monkeypatch.undo()

    # path itself never moved — table still readable and intact
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == [1, 2, 3]


def _crash_between_renames(spark, path, live, staged):
    """The on-disk state of an ``atomic_overwrite`` that crashed
    between its two renames: ``live`` moved to ``__old__``, the
    complete staging of ``staged`` at ``__tmp__``, no ``path``."""
    writer.atomic_overwrite(_mk(spark, live), path)
    _mk(spark, staged).write.parquet(path + "__tmp__")
    os.rename(path, path + "__old__")


def test_crashed_swap_rolls_forward_before_next_overwrite(spark, tmp_path):
    """The next overwrite first finishes the crashed swap: if its own
    staging job then fails, the table holds the staged rows, not
    nothing (deleting ``__tmp__`` there, and ``__old__`` at its
    commit, would lose both copies)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _crash_between_renames(spark, path, [1, 2, 3], [4, 5])
    failing = spark.range(1).select(
        F.raise_error(F.lit("staging crash")).cast("int").alias("k")
    )
    with pytest.raises(Exception, match="staging crash"):
        writer.atomic_overwrite(failing, path)
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == [4, 5]
    assert not os.path.exists(path + "__old__")


def test_recover_swap_restores_old_copy_without_staging(spark, tmp_path):
    """With no ``__tmp__`` beside ``__old__``, the previous table is
    the only copy: it is renamed back. A present table is left alone."""
    path = str(tmp_path / "t")
    _crash_between_renames(spark, path, [1, 2, 3], [4, 5])
    shutil.rmtree(path + "__tmp__")
    assert writer.recover_swap(spark, path)
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == [1, 2, 3]
    assert not os.path.exists(path + "__old__")
    assert writer.recover_swap(spark, path)
    assert not writer.recover_swap(spark, str(tmp_path / "absent"))


def test_delete_by_keys_no_forced_broadcast(spark):
    target = spark.range(0, 10_000).withColumnRenamed("id", "k")
    keys = spark.range(0, 5_000).withColumnRenamed("id", "k")
    out = delete_by_keys(target, keys, ["k"])
    # no hint: the analyzed plan must not pin a broadcast — AQE decides
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower()
    assert out.count() == 5_000
    assert out.filter("k < 5000").count() == 0


def test_concurrent_appends_to_one_directory_keep_every_row(spark, tmp_path):
    """Appends into one directory from several driver threads (the
    ingest tasks' shared load ledger): no append may lose another's
    files through the shared ``_temporary/`` staging area."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    n = 2 * (os.cpu_count() or 4)  # more writers than cores
    with ThreadPoolExecutor(max_workers=n) as pool:
        list(pool.map(
            lambda i: writer.append(_mk(spark, range(10 * i, 10 * i + 10)),
                                    path),
            range(n),
        ))
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == list(range(10 * n))


def test_writer_pools_keep_callers_job_group(spark, tmp_path):
    """``append_all``/``atomic_overwrite_all`` start their jobs from
    pool threads; those jobs must carry the caller's job group."""
    sc = spark.sparkContext
    group = "test-writer-pool-group"
    sc.setJobGroup(group, "pooled writes")
    try:
        writer.append_all([
            (_mk(spark, [1]), str(tmp_path / "a"), None),
            (_mk(spark, [2]), str(tmp_path / "b"), None),
        ])
        writer.atomic_overwrite_all([
            (_mk(spark, [3]), str(tmp_path / "c"), None),
            (_mk(spark, [4]), str(tmp_path / "d"), None),
        ])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 4
