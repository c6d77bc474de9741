"""The incremental ``viewing_sessions`` rewrite and the declared
modelling schemas.

Checks here:
- emptied Monday: a late event that re-cuts a group's only session
  into parts below the 180 s floor leaves its Monday with no session;
  every backend must drop that Monday and equal the backfill;
- schema drift: after a backfill plus one incremental pass the
  declared schema of each modelling table (``Warehouse.schema``)
  equals what a schema-inferring parquet read finds on disk, and
  planning a read of any of them launches no Spark job;
- round trips: ``update_viewing_sessions`` on the partitioned layout
  stays within a pinned Spark job budget;
- plan: the existing-sessions scan of the rewrite is pruned on
  ``panel_monday`` (dynamic partition pruning), not a full scan.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.plans.backfill import Warehouse, backfill
from samba_tv_ingest_etl_spark.plans.incremental import (
    RAW_WATERMARK,
    read_watermark,
    run_incremental,
    update_control_table,
    update_panel_windows,
    update_raw_events,
    update_viewing_sessions,
    update_weighted_events,
)
from samba_tv_ingest_etl_spark.sources import writer

from . import samba_fixtures as fx
from .test_incremental import _BACKENDS, _sessions_set

MODEL_TABLES = [
    "panel_windows", "raw_viewing_events", "weighted_events",
    "viewing_sessions",
]
# jobs of one update_viewing_sessions on the partitioned fixture, as
# the DAG runs it (watermark passed in): the rewrite is one write
# action, and AQE runs its broadcast and shuffle stages as jobs of
# their own. The shape with a checkpointed recompute, a Monday
# collect and a count launched 16.
MAX_SESSIONS_JOBS = 8

D1 = dt.date(2025, 6, 3)   # first drop: A and C (panel Monday M2)
D2 = dt.date(2025, 6, 4)   # late drop: B (M2)
D_OTHER = dt.date(2025, 5, 6)  # the untouched group's event (M1)


def _late_event_feeds(spark):
    """One group (dev_1, titleZ) whose only session is A [0, 1000]
    (100 s) + C [1200, 1300] (100 s): gap 200 s, one 200 s session on
    M2. The late drop brings B [10, 20] (50 s). The gap is measured
    from the previous event's END, so C now starts 1180 s after B's
    end: A+B (150 s) and C (100 s) both fall below 180 s, and M2 has
    no session left. An STB session on M1 keeps the table alive."""
    acr = fx.acr(spark)
    stb = fx.stb(spark)
    acr_rows = [
        fx._with_parts(fx._event("dev_1", "titleZ", "ctZ", s, e, d, day),
                       yyyy_int=True)
        for s, e, d, day in [
            (0, 1000, 100, D1), (1200, 1300, 100, D1), (10, 20, 50, D2),
        ]
    ]
    stb_rows = [
        fx._with_parts(
            fx._event("dev_2", "titleB", "ct2", 2000, 2200, 200, D_OTHER),
            yyyy_int=False,
        )
    ]
    return (
        spark.createDataFrame(acr_rows, acr.schema),
        spark.createDataFrame(stb_rows, stb.schema),
        fx.geo_weights(spark),
    )


@pytest.mark.parametrize("backend", sorted(_BACKENDS))
def test_late_event_empties_a_monday(spark, tmp_path, backend):
    acr, stb, geo = _late_event_feeds(spark)
    wh_full = Warehouse(spark, str(tmp_path / "full"))
    backfill(wh_full, acr, stb, geo)

    wh = Warehouse(spark, str(tmp_path / "inc"), **_BACKENDS[backend])
    first = F.col("metadata_date") <= F.lit(D1)
    run_incremental(wh, acr.filter(first), stb.filter(first), geo)
    mondays = {r[0] for r in wh.read("viewing_sessions")
               .select("panel_monday").collect()}
    assert mondays == {fx.M1, fx.M2}

    run_incremental(wh, acr, stb, geo)
    assert _sessions_set(wh) == _sessions_set(wh_full)
    assert {r[0] for r in wh.read("viewing_sessions")
            .select("panel_monday").collect()} == {fx.M1}
    table = wh.path("viewing_sessions")
    if backend == "partitioned":
        assert not os.path.exists(f"{table}/panel_monday={fx.M2}")
        assert os.path.exists(f"{table}/panel_monday={fx.M1}")
    elif backend == "manifest":
        mt = wh.manifest_table("viewing_sessions")
        assert sorted(mt._manifest(mt.version())) == [str(fx.M1)]


def _backfilled_then_one_pass(spark, root, backend):
    """Backfill the drops up to 05-15, advance the watermarks to
    them, then run one incremental pass over every drop."""
    acr, stb, geo = fx.acr(spark), fx.stb(spark), fx.geo_weights(spark)
    first = F.col("metadata_date") <= F.lit(dt.date(2025, 5, 15))
    wh = Warehouse(spark, root, **_BACKENDS[backend])
    a1, s1 = acr.filter(first), stb.filter(first)
    backfill(wh, a1, s1, geo)
    update_control_table(wh, a1, s1, geo)
    run_incremental(wh, acr, stb, geo)
    return wh


@pytest.mark.parametrize("backend", ["flat", "partitioned"])
def test_declared_schemas_match_disk(spark, tmp_path, backend):
    wh = _backfilled_then_one_pass(spark, str(tmp_path / "wh"), backend)
    for table in MODEL_TABLES:
        declared = wh.schema(table)
        on_disk = spark.read.parquet(wh.path(table)).schema
        assert [(f.name, f.dataType) for f in declared] == [
            (f.name, f.dataType) for f in on_disk
        ], table


@pytest.mark.parametrize("backend", sorted(_BACKENDS))
def test_model_table_reads_launch_no_job(spark, tmp_path, backend):
    """A declared schema spares every read its footer-inference job,
    including the manifest's one read per live partition."""
    wh = _backfilled_then_one_pass(spark, str(tmp_path / "wh"), backend)
    sc = spark.sparkContext
    group = f"model-reads-{backend}"
    sc.setJobGroup(group, "plan the modelling table reads")
    try:
        frames = [wh.read(t) for t in MODEL_TABLES]
        if backend != "flat":
            pruned = wh.read_partitions("viewing_sessions", [fx.M1, fx.M2])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    if backend != "flat":
        assert pruned.count() == frames[-1].count() > 0


def _partitioned_before_sessions(spark, root):
    """A partitioned warehouse loaded with the drops up to 05-15,
    then the remaining drops merged by every task before the
    sessions task."""
    acr, stb, geo = fx.acr(spark), fx.stb(spark), fx.geo_weights(spark)
    wh = Warehouse(spark, root, layout=Warehouse.SCALE_LAYOUT)
    first = F.col("metadata_date") <= F.lit(dt.date(2025, 5, 15))
    run_incremental(wh, acr.filter(first), stb.filter(first), geo)
    update_panel_windows(wh, geo)
    update_raw_events(wh, acr, stb)
    update_weighted_events(wh, geo)
    return wh


def test_update_viewing_sessions_job_count(spark, tmp_path):
    wh = _partitioned_before_sessions(spark, str(tmp_path / "wh"))
    wm = read_watermark(wh, RAW_WATERMARK)
    sc = spark.sparkContext
    group = "sessions-rewrite-job-count"
    sc.setJobGroup(group, "one update_viewing_sessions")
    try:
        n_new = update_viewing_sessions(wh, wm)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert n_new > 0
    assert 1 <= len(jobs) <= MAX_SESSIONS_JOBS, sorted(jobs)


def test_existing_sessions_scan_is_partition_pruned(
    spark, tmp_path, monkeypatch
):
    wh = _partitioned_before_sessions(spark, str(tmp_path / "wh"))
    plans = []
    real = writer.overwrite_partitions

    def capture(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(writer, "overwrite_partitions", capture)
    update_viewing_sessions(wh)
    assert len(plans) == 1
    # the only scan that reads session columns is viewing_sessions
    scans = [
        line for line in plans[0].splitlines()
        if "FileScan" in line and "session_start_ts" in line
    ]
    assert scans, plans[0]
    for line in scans:
        assert "dynamicpruningexpression(panel_monday" in line, line
