"""The TV ingest commit and the driver-side control state.

Crash replay: a load commits once, at its ledger entry. An ingest that
stops before the entry, right after it, or halfway through moving the
staged files must, after one more run of the ingest DAG, leave every
staged file in the ledger exactly once, every staged row in its feed
table exactly once, and no ``_staging/`` directory behind.

Job counts: the ledger, the watermarks and the ``task_control`` seed
are read and written on the driver, so only the data jobs remain
(counted by ``statusTracker`` under a job group)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.plans.backfill import (
    Warehouse,
    seed_task_control,
)
from samba_tv_ingest_etl_spark.plans.incremental import (
    RAW_WATERMARK,
    read_watermarks,
    update_control_table,
)
from samba_tv_ingest_etl_spark.sources import control
from samba_tv_ingest_etl_spark.sources.ingest import (
    build_ingest_dag,
    ingest_feed,
    read_feed_table,
)
from samba_tv_ingest_etl_spark.sources.ledger import LoadLedger

from .conftest import count_jobs

FEEDS = {"STB": "STB", "ACR": "ACR", "GEO_WEIGHTS": "Geo-Weights"}


def _stage_day(base, day, staged, rows):
    """Two files per feed for ``day``; returns nothing, extends the
    ``staged`` path lists and ``rows`` counts per feed."""
    for feed, sub in FEEDS.items():
        d = os.path.join(base, sub, f"yyyy=2025/mm=06/dd={day:02d}")
        os.makedirs(d)
        for i in range(2):
            n = 2 + i
            ids = [f"dev_{day}_{i}_{k}" for k in range(n)]
            if feed == "GEO_WEIGHTS":
                t = pa.table({
                    "hh_id": [f"hh_{x}" for x in ids],
                    "smba_id": ids,
                    "geo_weight": [1.0] * n,
                })
            else:
                t = pa.table({
                    "smba_id": ids,
                    "exposure_start_ts": pa.array(range(n), pa.int64()),
                    "exposure_end_ts": pa.array(range(10, n + 10), pa.int64()),
                    "duration": pa.array([10] * n, pa.int64()),
                    "title": ["t"] * n,
                    "content_id": ["c"] * n,
                })
            p = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(t, p)
            staged[feed].append(p)
            rows[feed] += n


class _Crash(RuntimeError):
    pass


def _crash_before_entry(monkeypatch, feed_dir):
    orig = LoadLedger.commit

    def commit(self, staged_entry, name):
        if f"/{feed_dir}/_staging/" in staged_entry:
            raise _Crash("crash after the staged append")
        return orig(self, staged_entry, name)

    monkeypatch.setattr(LoadLedger, "commit", commit)


def _crash_after_entry(monkeypatch, feed_dir):
    orig = LoadLedger.commit

    def commit(self, staged_entry, name):
        orig(self, staged_entry, name)
        if f"/{feed_dir}/_staging/" in staged_entry:
            raise _Crash("crash after the ledger entry")

    monkeypatch.setattr(LoadLedger, "commit", commit)


def _crash_mid_moves(monkeypatch, feed_dir):
    orig = control.move
    moved = []

    def move(spark, src, dst):
        data = f"/{feed_dir}/_staging/" in src and not src.endswith(
            "/_ledger.parquet"
        )
        if data and moved:
            raise _Crash("crash halfway through the moves")
        if data:
            moved.append(src)
        return orig(spark, src, dst)

    monkeypatch.setattr(control, "move", move)


@pytest.mark.parametrize(
    "crash", [_crash_before_entry, _crash_after_entry, _crash_mid_moves],
    ids=["before_entry", "after_entry", "mid_moves"],
)
def test_ingest_crash_replays_exactly_once(spark, tmp_path, monkeypatch, crash):
    base = str(tmp_path / "stage")
    warehouse = str(tmp_path / "raw")
    ledger_path = str(tmp_path / "ledger")
    staged = {f: [] for f in FEEDS}
    rows = {f: 0 for f in FEEDS}
    dag = build_ingest_dag(spark, base, warehouse, ledger_path)
    _stage_day(base, 1, staged, rows)
    dag.run()
    # the crashed load spans two days, so it stages at least two files
    _stage_day(base, 2, staged, rows)
    _stage_day(base, 3, staged, rows)

    crash(monkeypatch, "stb")
    with pytest.raises(_Crash):
        dag.run()
    monkeypatch.undo()
    stb = os.path.join(warehouse, "stb")
    if crash is _crash_mid_moves:
        left = [
            f for _, _, fs in os.walk(os.path.join(stb, "_staging"))
            for f in fs if f.endswith(".parquet") and not f.startswith(".")
        ]
        assert left, "the crash must leave staged files unmoved"

    dag.run()
    ledger = spark.read.parquet(ledger_path)
    for feed in FEEDS:
        got = [
            r["file_path"].split(":", 1)[-1]
            for r in ledger.filter(F.col("feed") == feed).collect()
        ]
        assert sorted(got) == sorted(staged[feed]), feed
        table = os.path.join(warehouse, feed.lower())
        assert read_feed_table(spark, table, feed).count() == rows[feed], feed
        assert not os.path.exists(os.path.join(table, "_staging")), feed
    again = dag.run()
    assert all(r.files_loaded == 0 for r in again.values())


# Spark jobs per call on a small stage (4 cores): a steady ingest of
# one feed is its append job; the stage read takes the drop's schema
# from the file footers on the driver, and everything else is driver
# file work too.
MAX_STEADY_INGEST_JOBS = 1


def test_ingest_job_counts(spark, tmp_path):
    base = str(tmp_path / "stage")
    staged = {f: [] for f in FEEDS}
    rows = {f: 0 for f in FEEDS}
    target, ledger = str(tmp_path / "raw_stb"), str(tmp_path / "ledger")
    _stage_day(base, 1, staged, rows)
    ingest_feed(spark, base, "STB", target, ledger, subdir="STB")
    _stage_day(base, 2, staged, rows)
    res, jobs, _ = count_jobs(
        spark, "ingest-steady",
        lambda: ingest_feed(spark, base, "STB", target, ledger, subdir="STB"),
    )
    assert res.files_loaded == 2 and 1 <= jobs <= MAX_STEADY_INGEST_JOBS
    res, jobs, _ = count_jobs(
        spark, "ingest-noop",
        lambda: ingest_feed(spark, base, "STB", target, ledger, subdir="STB"),
    )
    assert res.files_loaded == 0 and jobs == 0


def test_control_state_job_counts(spark, tmp_path):
    """The seed and the watermark read launch no job; the control
    task launches exactly one, for the feed maxima."""
    base = str(tmp_path / "stage")
    staged = {f: [] for f in FEEDS}
    rows = {f: 0 for f in FEEDS}
    _stage_day(base, 1, staged, rows)
    raw = str(tmp_path / "raw")
    build_ingest_dag(spark, base, raw, str(tmp_path / "ledger")).run()
    acr, stb, geo = (
        read_feed_table(spark, os.path.join(raw, f.lower()), f)
        for f in ("ACR", "STB", "GEO_WEIGHTS")
    )
    wh = Warehouse(spark, str(tmp_path / "model"))

    _, jobs, _ = count_jobs(spark, "seed", lambda: seed_task_control(wh))
    assert jobs == 0
    marks, jobs, _ = count_jobs(
        spark, "read-marks", lambda: read_watermarks(wh)
    )
    assert jobs == 0 and set(marks) == {RAW_WATERMARK, "panel_windows_update"}
    _, jobs, _ = count_jobs(
        spark, "control", lambda: update_control_table(wh, acr, stb, geo)
    )
    assert jobs == 1
    assert read_watermarks(wh)[RAW_WATERMARK].isoformat() == "2025-06-01"
    assert {
        r["task_name"] for r in wh.read("task_control").collect()
    } == {RAW_WATERMARK, "panel_windows_update"}
