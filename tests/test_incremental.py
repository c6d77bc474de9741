"""Incremental DAG properties (SURVEY §5.2-3/4):

- day-by-day incremental == one-shot backfill on the same data
  (fixtures avoid the weak-key collision so the property is exact);
- idempotency: a second pass with no new data changes nothing;
- the weak (smba_id, exposure_start_ts) MERGE key quirk itself
  (SURVEY §1.4-10): a colliding later-day row is skipped.
"""

from __future__ import annotations

import datetime as dt
import threading

import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.plans.backfill import Warehouse, backfill
from samba_tv_ingest_etl_spark.plans.incremental import (
    read_watermark,
    run_incremental,
)

from . import samba_fixtures as fx

SESSION_COLS = [
    "hh_id", "title", "content_id", "panel_monday", "session_id",
    "session_start_ts", "session_end_ts", "total_duration", "panel_weight",
]


def _sessions_set(wh):
    return sorted(
        map(tuple, wh.read("viewing_sessions").select(*SESSION_COLS).collect())
    )


def _arrival_dates(*dfs):
    dates = set()
    for df in dfs:
        dates |= {
            r["metadata_date"]
            for r in df.select("metadata_date").distinct().collect()
        }
    return sorted(dates)


@pytest.fixture()
def feeds(spark):
    return fx.acr(spark), fx.stb(spark), fx.geo_weights(spark)


def test_incremental_matches_backfill(spark, tmp_path, feeds):
    """Event feeds replayed day by day with geo weights known up-front.

    Geo must lead: an event's panel Monday postdates the event (window
    = [monday-28, monday-1]), and the reference's incremental DAG
    never retro-attributes — an event weighted before its Monday's geo
    row exists is dropped forever (see
    test_late_geo_drops_events_quirk). With weights published in
    advance the day-by-day replay is equivalent to the backfill."""
    acr, stb, geo = feeds
    wh_full = Warehouse(spark, str(tmp_path / "full"))
    backfill(wh_full, acr, stb, geo)

    wh_inc = Warehouse(spark, str(tmp_path / "inc"))
    for day in _arrival_dates(acr, stb):
        le = F.col("metadata_date") <= F.lit(day)
        run_incremental(wh_inc, acr.filter(le), stb.filter(le), geo)

    assert _sessions_set(wh_inc) == _sessions_set(wh_full)


def test_late_geo_drops_events_quirk(spark, tmp_path, feeds):
    """Replicated reference divergence: when geo weights arrive on
    their panel Monday (after the events they cover), events already
    processed are never re-attributed — incremental loses sessions the
    backfill has (the weighted MERGE only sees the new raw slice,
    etl-dag.sql:56-58)."""
    acr, stb, geo = feeds
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for day in _arrival_dates(acr, stb, geo):
        le = F.col("metadata_date") <= F.lit(day)
        run_incremental(wh, acr.filter(le), stb.filter(le), geo.filter(le))

    # backfill keeps hh_1's titleA session (attributed to M2); the
    # day-by-day replay dropped every event before its Monday's geo
    # arrived and the watermark had already passed them by — nothing
    # was ever weighted, so no sessions table even materialized
    assert not wh.exists("weighted_events") or (
        wh.read("weighted_events").count() == 0
    )
    assert not wh.exists("viewing_sessions")


_BACKENDS = {
    "flat": {},
    "partitioned": {"layout": Warehouse.SCALE_LAYOUT},
    "manifest": {
        "layout": Warehouse.SCALE_LAYOUT,
        "manifest": Warehouse.MANIFEST_TABLES,
    },
}


@pytest.mark.parametrize("backend", sorted(_BACKENDS))
@pytest.mark.parametrize("lag", ["stb", "acr"])
def test_arrival_order_permutation_equals_backfill(
    spark, tmp_path, feeds, backend, lag
):
    """Arrival-order permutation property (reference watermark rule
    ``LEAST(acr_max, stb_max)``, etl-dag.sql:137): one feed trailing
    the other by a day on every pass must converge to the same final
    viewing_sessions as the in-order replay and the one-shot
    backfill, on ALL THREE storage backends. The trailing feed's
    slice stays above the watermark (which trails the slower feed by
    construction), so nothing is skipped; the affected-key recompute
    re-cuts the touched groups when the late slice lands. Geo leads,
    as in test_incremental_matches_backfill (the documented
    precondition)."""
    acr, stb, geo = feeds
    wh_full = Warehouse(spark, str(tmp_path / "full"))
    backfill(wh_full, acr, stb, geo)

    days = _arrival_dates(acr, stb)
    lagging, leading = (stb, acr) if lag == "stb" else (acr, stb)
    wh = Warehouse(spark, str(tmp_path / "inc"), **_BACKENDS[backend])
    for i, day in enumerate(days):
        lead_cut = F.col("metadata_date") <= F.lit(day)
        lag_cut = (
            F.col("metadata_date") <= F.lit(days[i - 1])
            if i
            else F.lit(False)
        )
        a, s = (
            (leading.filter(lead_cut), lagging.filter(lag_cut))
            if lag == "stb"
            else (lagging.filter(lag_cut), leading.filter(lead_cut))
        )
        run_incremental(wh, a, s, geo)
    # catch-up pass: the lagging feed's final day lands
    full_cut = F.col("metadata_date") <= F.lit(days[-1])
    run_incremental(wh, acr.filter(full_cut), stb.filter(full_cut), geo)

    assert _sessions_set(wh) == _sessions_set(wh_full)


def test_alternating_lag_equals_backfill(spark, tmp_path, feeds):
    """A third permutation: the feeds take turns trailing (ACR late
    on even passes, STB late on odd) — the watermark rule must cope
    with the roles SWAPPING between passes, not just a fixed slow
    feed."""
    acr, stb, geo = feeds
    wh_full = Warehouse(spark, str(tmp_path / "full"))
    backfill(wh_full, acr, stb, geo)

    days = _arrival_dates(acr, stb)
    wh = Warehouse(spark, str(tmp_path / "inc"))
    for i, day in enumerate(days):
        now = F.col("metadata_date") <= F.lit(day)
        prev = (
            F.col("metadata_date") <= F.lit(days[i - 1])
            if i
            else F.lit(False)
        )
        if i % 2 == 0:
            run_incremental(wh, acr.filter(prev), stb.filter(now), geo)
        else:
            run_incremental(wh, acr.filter(now), stb.filter(prev), geo)
    full = F.col("metadata_date") <= F.lit(days[-1])
    run_incremental(wh, acr.filter(full), stb.filter(full), geo)

    assert _sessions_set(wh) == _sessions_set(wh_full)


def test_incremental_idempotent(spark, tmp_path, feeds):
    acr, stb, geo = feeds
    wh = Warehouse(spark, str(tmp_path / "wh"))
    run_incremental(wh, acr, stb, geo)
    before = _sessions_set(wh)
    n_raw = wh.read("raw_viewing_events").count()
    n_weighted = wh.read("weighted_events").count()

    results = run_incremental(wh, acr, stb, geo)  # no new data
    assert results["update_raw_events"] == 0
    assert results["update_weighted_events"] == 0
    assert _sessions_set(wh) == before
    assert wh.read("raw_viewing_events").count() == n_raw
    assert wh.read("weighted_events").count() == n_weighted


def test_weak_merge_key_quirk(spark, tmp_path, feeds):
    """Two different programs starting the same second on one device:
    the later-arriving row is silently dropped by the incremental MERGE
    (replicated from the reference, not fixed)."""
    acr, stb, geo = feeds
    wh = Warehouse(spark, str(tmp_path / "wh"))
    run_incremental(wh, acr, stb, geo)

    # next day: dev_1 row colliding with the existing (dev_1, 1000)
    # event but a different title, plus a genuinely new event
    later = dt.date(2025, 5, 21)
    clash = [
        fx._with_parts(
            fx._event("dev_1", "titleX", "ctX", 1000, 1080, 80, later),
            yyyy_int=True,
        ),
        fx._with_parts(
            fx._event("dev_1", "titleA", "ct1", 2400, 2500, 100, later),
            yyyy_int=True,
        ),
    ]
    acr2 = acr.unionByName(spark.createDataFrame(clash, acr.schema))
    run_incremental(wh, acr2, stb, geo)

    raw = wh.read("raw_viewing_events")
    assert raw.filter(
        (F.col("smba_id") == "dev_1") & (F.col("exposure_start_ts") == 1000)
    ).count() == 1  # clash skipped
    titles = {r["title"] for r in raw.select("title").distinct().collect()}
    assert "titleX" not in titles
    assert raw.filter(F.col("exposure_start_ts") == 2400).count() == 1


def test_watermarks_advance(spark, tmp_path, feeds):
    acr, stb, geo = feeds
    wh = Warehouse(spark, str(tmp_path / "wh"))
    run_incremental(wh, acr, stb, geo)
    # raw watermark trails the slower feed (LEAST of feed maxima)
    acr_max = acr.agg(F.max("metadata_date")).collect()[0][0]
    stb_max = stb.agg(F.max("metadata_date")).collect()[0][0]
    assert read_watermark(wh, "raw_events_update") == min(acr_max, stb_max)
    geo_max = geo.agg(F.max("metadata_date")).collect()[0][0]
    assert read_watermark(wh, "panel_windows_update") == geo_max


def test_dag_structure():
    from samba_tv_ingest_etl_spark.plans.dag import TaskDag

    dag = TaskDag()
    calls = []
    dag.add("root", lambda: calls.append("root"))
    dag.add("a", lambda: calls.append("a"), after=["root"])
    dag.add("b", lambda: calls.append("b"), after=["root"])
    dag.add("c", lambda: calls.append("c"), after=["a", "b"])
    dag.run()
    assert calls.index("c") > calls.index("a") > calls.index("root")
    assert calls.index("c") > calls.index("b")

    calls.clear()
    dag.suspend("a")
    dag.run()  # c skipped because its dependency a is suspended
    assert "a" not in calls and "c" not in calls and "b" in calls


def test_dag_runs_ready_siblings_concurrently():
    """Two tasks with no edge between them run at the same time: each
    waits on a two-party barrier, which only opens if both are in
    flight together (run one after the other, the first times out)."""
    from samba_tv_ingest_etl_spark.plans.dag import TaskDag

    barrier = threading.Barrier(2, timeout=30)
    dag = TaskDag()
    dag.add("root", lambda: "root")
    dag.add("a", lambda: barrier.wait() >= 0, after=["root"])
    dag.add("b", lambda: barrier.wait() >= 0, after=["root"])
    dag.add("c", lambda: "c", after=["a", "b"])
    assert dag.run() == {"root": "root", "a": True, "b": True, "c": "c"}


def test_dag_chain_runs_on_calling_thread():
    """A chain has one ready task at a time: it runs in order on the
    caller's thread, as the sequential runner did."""
    from samba_tv_ingest_etl_spark.plans.dag import TaskDag

    seen = []

    def record(name):
        return lambda: seen.append((name, threading.current_thread()))

    dag = TaskDag()
    dag.add("x", record("x"))
    dag.add("y", record("y"), after=["x"])
    dag.add("z", record("z"), after=["y"])
    dag.run()
    assert [n for n, _ in seen] == ["x", "y", "z"]
    assert {t for _, t in seen} == {threading.current_thread()}


def test_dag_failure_skips_downstream_and_reraises():
    """A task that raises: its downstream subtree is skipped, a
    sibling that does not depend on it still completes (and so does
    the sibling's own downstream), and ``run()`` re-raises the error
    once nothing is left running."""
    from samba_tv_ingest_etl_spark.plans.dag import TaskDag

    started = threading.Event()
    calls = []

    def bad():
        started.wait(30)  # fail only once the sibling has started
        raise ValueError("task bad failed")

    def good():
        started.set()
        calls.append("good")
        return "good"

    dag = TaskDag()
    dag.add("root", lambda: calls.append("root"))
    dag.add("bad", bad, after=["root"])
    dag.add("good", good, after=["root"])
    dag.add("after_bad", lambda: calls.append("after_bad"), after=["bad"])
    dag.add("after_good", lambda: calls.append("after_good"),
            after=["good"])
    dag.add("after_both", lambda: calls.append("after_both"),
            after=["bad", "good"])
    with pytest.raises(ValueError, match="task bad failed"):
        dag.run()
    assert sorted(calls) == ["after_good", "good", "root"]


def test_dag_threads_keep_callers_job_group(spark):
    """Concurrent tasks run on pool threads; the Spark jobs they
    launch must still carry the job group the caller set."""
    from samba_tv_ingest_etl_spark.plans.dag import TaskDag

    sc = spark.sparkContext
    group = "test-dag-job-group"
    dag = TaskDag()
    dag.add("a", lambda: spark.range(10).count())
    dag.add("b", lambda: spark.range(20).count())
    sc.setJobGroup(group, "concurrent DAG tasks")
    try:
        assert dag.run() == {"a": 10, "b": 20}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
