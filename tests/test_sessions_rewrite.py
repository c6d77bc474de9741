"""The incremental ``viewing_sessions`` rewrite and the declared
modelling schemas.

Checks here:
- emptied Monday: a late event that re-cuts a group's only session
  into parts below the 180 s floor leaves its Monday with no session;
  the rewrite must drop that Monday's directory and equal the
  backfill;
- crash recovery: a sessions table left between the two renames of
  its swap is finished, not read as missing; a pass that crashed
  after committing only some of its Mondays, before the watermarks
  advanced, converges when it is replayed;
- schema drift: after a backfill plus one incremental pass the
  declared schema of each modelling table (``Warehouse.schema``)
  equals what a schema-inferring parquet read finds on disk, and
  planning a read of any of them launches no Spark job;
- round trips: ``update_viewing_sessions``, ``update_raw_events`` and
  ``update_weighted_events`` stay within
  pinned Spark job budgets, and a second identical sessions rewrite
  finds its generated classes in Spark's codegen cache;
- plan: the existing-sessions scan of the rewrite is pruned on
  ``panel_monday`` (dynamic partition pruning), not a full scan.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

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
from .conftest import count_jobs
from .test_incremental import _sessions_set

MODEL_TABLES = [
    "panel_windows", "raw_viewing_events", "weighted_events",
    "viewing_sessions",
]
# jobs of one update_viewing_sessions on the fixture, as
# the DAG runs it (watermark passed in): the rewrite is one write
# action, and AQE runs its broadcast and shuffle stages as jobs of
# their own. The shape with a checkpointed recompute, a Monday
# collect and a count launched 16; DISTINCTs on the keys and a
# second Monday DISTINCT for the expected Mondays launched 8.
MAX_SESSIONS_JOBS = 6
# jobs of the two event merges on the same fixture: the append job
# and the exchange of the anti-join against the target's keys (with
# no DISTINCT over the target); the weighting reads the panel Mondays
# on the driver
MAX_RAW_EVENTS_JOBS = 2
MAX_WEIGHTED_EVENTS_JOBS = 3
# classes a second identical sessions rewrite compiles: the ones whose
# generated code inlines the fresh ``created_at`` timestamp literal
MAX_WARM_SESSIONS_COMPILES = 10

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


def test_late_event_empties_a_monday(spark, tmp_path):
    acr, stb, geo = _late_event_feeds(spark)
    wh_full = Warehouse(spark, str(tmp_path / "full"))
    backfill(wh_full, acr, stb, geo)

    wh = Warehouse(spark, str(tmp_path / "inc"))
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
    assert not os.path.exists(f"{table}/panel_monday={fx.M2}")
    assert os.path.exists(f"{table}/panel_monday={fx.M1}")


def _backfilled_then_one_pass(spark, root):
    """Backfill the drops up to 05-15, advance the watermarks to
    them, then run one incremental pass over every drop."""
    acr, stb, geo = fx.acr(spark), fx.stb(spark), fx.geo_weights(spark)
    first = F.col("metadata_date") <= F.lit(dt.date(2025, 5, 15))
    wh = Warehouse(spark, root)
    a1, s1 = acr.filter(first), stb.filter(first)
    backfill(wh, a1, s1, geo)
    update_control_table(wh, a1, s1, geo)
    run_incremental(wh, acr, stb, geo)
    return wh


def _feeds_with_late_events(spark):
    """The fixture feeds plus two late events, each 100 s after the
    end of a session it joins: an STB event dated 05-11, inside M1's
    window only, for hh_2's titleB (case B), and an ACR event dated
    05-21, after every covered drop, for hh_1's titleA on M2
    (case A)."""
    acr, stb = fx.acr(spark), fx.stb(spark)
    late_acr = fx._with_parts(
        fx._event("dev_1", "titleA", "ct1", 2001, 2101, 100,
                  dt.date(2025, 5, 21)),
        yyyy_int=True,
    )
    late_stb = fx._with_parts(
        fx._event("dev_2", "titleB", "ct2", 2300, 2400, 100,
                  dt.date(2025, 5, 11)),
        yyyy_int=False,
    )
    return (
        acr.unionByName(spark.createDataFrame([late_acr], acr.schema)),
        stb.unionByName(spark.createDataFrame([late_stb], stb.schema)),
        fx.geo_weights(spark),
    )


def test_crashed_sessions_swap_is_finished_not_read_as_missing(
    spark, tmp_path
):
    """``viewing_sessions`` left between the two renames of its swap:
    the table at ``__old__``, a complete staged copy at ``__tmp__``.
    The next pass finishes the swap and then updates the table. Read
    as "no table", the pass would take the bootstrap branch and keep
    only the affected groups' sessions."""
    wh = _backfilled_then_one_pass(spark, str(tmp_path / "wh"))
    twin_root = str(tmp_path / "twin")
    shutil.copytree(wh.root, twin_root)
    table = wh.path("viewing_sessions")
    os.rename(table, table + "__old__")
    shutil.copytree(table + "__old__", table + "__tmp__")

    acr, stb, geo = _feeds_with_late_events(spark)
    run_incremental(wh, acr, stb, geo)
    twin = Warehouse(spark, twin_root)
    run_incremental(twin, acr, stb, geo)
    assert _sessions_set(wh) == _sessions_set(twin)
    assert len(_sessions_set(wh)) > 1
    assert not os.path.exists(table + "__old__")
    assert not os.path.exists(table + "__tmp__")


def test_replay_after_crash_among_monday_commits(spark, tmp_path):
    """A pass whose sessions commit moved only some Mondays, and whose
    control task never ran: ``task_control`` and the M1 directory are
    restored to their state before the pass (M2 stays rewritten).
    Replaying the pass gives the crash-free result, which is the
    one-shot backfill's."""
    acr, stb, geo = _feeds_with_late_events(spark)
    wh_full = Warehouse(spark, str(tmp_path / "full"))
    backfill(wh_full, acr, stb, geo)

    wh = Warehouse(spark, str(tmp_path / "inc"))
    first = F.col("metadata_date") <= F.lit(dt.date(2025, 5, 10))
    run_incremental(wh, acr.filter(first), stb.filter(first), geo)
    snap = str(tmp_path / "snap")
    control_dir = wh.path("task_control")
    m1_dir = os.path.join(wh.path("viewing_sessions"), f"panel_monday={fx.M1}")
    shutil.copytree(control_dir, os.path.join(snap, "task_control"))
    shutil.copytree(m1_dir, os.path.join(snap, "m1"))
    before = _sessions_set(wh)

    # the pass touches both Mondays: hh_2's late event on M1, case A
    # and its late event on M2
    run_incremental(wh, acr, stb, geo)
    crash_free = _sessions_set(wh)
    changed = {r[3] for r in set(crash_free) ^ set(before)}
    assert changed == {fx.M1, fx.M2}

    for live, saved in ((control_dir, "task_control"), (m1_dir, "m1")):
        shutil.rmtree(live)
        shutil.copytree(os.path.join(snap, saved), live)
    assert _sessions_set(wh) != crash_free

    run_incremental(wh, acr, stb, geo)
    assert _sessions_set(wh) == crash_free == _sessions_set(wh_full)


def test_declared_schemas_match_disk(spark, tmp_path):
    wh = _backfilled_then_one_pass(spark, str(tmp_path / "wh"))
    for table in MODEL_TABLES:
        declared = wh.schema(table)
        on_disk = spark.read.parquet(wh.path(table)).schema
        assert [(f.name, f.dataType) for f in declared] == [
            (f.name, f.dataType) for f in on_disk
        ], table


def test_model_table_reads_launch_no_job(spark, tmp_path):
    """A declared schema spares every read its footer-inference job."""
    wh = _backfilled_then_one_pass(spark, str(tmp_path / "wh"))
    frames, jobs, _ = count_jobs(
        spark, "model-reads", lambda: [wh.read(t) for t in MODEL_TABLES]
    )
    assert jobs == 0
    assert frames[-1].count() > 0


def _partitioned_loaded(spark, root):
    """A warehouse loaded with the drops up to 05-15, and the feeds
    holding every drop."""
    acr, stb, geo = fx.acr(spark), fx.stb(spark), fx.geo_weights(spark)
    wh = Warehouse(spark, root)
    first = F.col("metadata_date") <= F.lit(dt.date(2025, 5, 15))
    run_incremental(wh, acr.filter(first), stb.filter(first), geo)
    return wh, acr, stb, geo


def _partitioned_before_sessions(spark, root):
    """``_partitioned_loaded``, then the remaining drops merged by
    every task before the sessions task."""
    wh, acr, stb, geo = _partitioned_loaded(spark, root)
    update_panel_windows(wh, geo)
    update_raw_events(wh, acr, stb)
    update_weighted_events(wh, geo)
    return wh


def test_event_merge_job_counts(spark, tmp_path):
    wh, acr, stb, geo = _partitioned_loaded(spark, str(tmp_path / "wh"))
    update_panel_windows(wh, geo)
    n_raw, jobs, _ = count_jobs(
        spark, "raw-events-job-count",
        lambda: update_raw_events(wh, acr, stb),
    )
    assert n_raw > 0
    assert 1 <= jobs <= MAX_RAW_EVENTS_JOBS, jobs
    n_weighted, jobs, _ = count_jobs(
        spark, "weighted-events-job-count",
        lambda: update_weighted_events(wh, geo),
    )
    assert n_weighted > 0
    assert 1 <= jobs <= MAX_WEIGHTED_EVENTS_JOBS, jobs


def test_update_viewing_sessions_job_count(spark, tmp_path):
    wh = _partitioned_before_sessions(spark, str(tmp_path / "wh"))
    twin_root = str(tmp_path / "twin")
    shutil.copytree(wh.root, twin_root)
    twin = Warehouse(spark, twin_root)
    wm = read_watermark(wh, RAW_WATERMARK)
    n_new, jobs, _ = count_jobs(
        spark, "sessions-rewrite-job-count",
        lambda: update_viewing_sessions(wh, wm),
    )
    assert n_new > 0
    assert 1 <= jobs <= MAX_SESSIONS_JOBS, jobs
    # the same rewrite of an identical copy: a warm pass
    again, _, compiles = count_jobs(
        spark, "sessions-rewrite-warm",
        lambda: update_viewing_sessions(twin, wm),
    )
    assert again == n_new
    assert compiles <= MAX_WARM_SESSIONS_COMPILES, compiles


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
