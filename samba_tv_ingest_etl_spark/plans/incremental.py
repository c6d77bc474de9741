"""Incremental modelling DAG — reference entry point 3
(``etl-dag.sql``, SURVEY §3-EP3).

Five tasks with the reference's exact edge structure::

    root ─┬─ update_panel_windows  (insert-only MERGE on panel_monday)
          └─ update_raw_events     (MERGE on (smba_id, exposure_start_ts))
              └─(both)─ update_weighted_events  (attribute+weight new slice)
                  └─ update_viewing_sessions    (affected-key recompute)
                      └─ update_control_table   (advance watermarks)

State crosses task boundaries only through tables (``task_control``
and the modelling tables), exactly like the reference — every task is
restartable from storage. All incremental filters read the watermark
*before* the final task advances it, so a single DAG pass sees one
consistent snapshot.

Fidelity notes (each a correctness trap the oracle tests pin):

- the MERGE key ``(smba_id, exposure_start_ts)`` is deliberately weak
  (``etl-dag.sql:43,80``): two different programs starting the same
  second on one device collapse on incremental loads but not in the
  backfill — replicated, not fixed (SURVEY §1.4-10);
- new panel Mondays never retro-attribute previously loaded events
  (the weighted MERGE only sees the new raw slice, and already-merged
  keys are skipped);
- the affected-key recompute re-sessionizes ALL weighted events of a
  touched ``(hh_id, title, content_id)`` group, not just the new ones
  (``etl-dag.sql:99-121``) — late data can re-cut old sessions;
- ``raw_events_update`` advances to the LEAST of the two feeds' max
  dates (trail the slower feed), ``panel_windows_update`` to geo's max,
  both COALESCE-defaulted to 1900-01-01 (``etl-dag.sql:136-142``).

Scale: each task reads only the watermark slice (partition pruning on
``metadata_date`` when raw tables are date-partitioned); the affected
keys set is a DISTINCT over that slice, planned into the recompute
semi-join (broadcast) and the DELETE anti-join rather than cached. The
recompute shuffles only the affected groups. With the default flat
layout the DELETE rewrites ``viewing_sessions`` once per pass (atomic
swap); with ``Warehouse.SCALE_LAYOUT`` the pass reads and rewrites
ONLY the touched ``panel_monday`` partitions — the 100 TB path. A
Delta backend would slot into the same Warehouse seam for file-level
deletes.

At daily-drop sizes the pass is bound by driver round trips, not by
executor work (traced spans keep the executors 6-21% busy), so the
pass is built to make few of them: tasks 1 and 2 run concurrently
(``TaskDag.run``); the root reads ``task_control`` once for every
task, on the driver (``sources/control.py``, no Spark job), and every
modelling table is read with its declared schema
(``Warehouse.SCHEMAS``), so no read infers one; the merges take their
row counts from the append job (``Observation``) instead of a count
job over a materialized delta; the sessions task is one plan with one
write action, whose observation reports the recomputed-session count
and the touched Mondays; and the control task gets all three feed
maxima from one job and writes its two rows on the driver. On 4
vCPUs (default perfbench scale) the ingest plus incremental pass
makes 24 Spark jobs, 67 before any of this. The feed maxima
are still a full-history scan of ``metadata_date``.
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import schemas
from ..operators.merge import delete_by_keys, merge_insert_only, semi_join_keys
from ..operators.panels import attribute_panels, panel_windows
from ..operators.union_events import raw_viewing_events
from ..operators.weighting import weighted_events
from .backfill import (
    Warehouse,
    build_viewing_sessions,
    read_watermarks,
    write_task_control,
)
from .dag import TaskDag

EPOCH_DEFAULT = dt.date(1900, 1, 1)
AFFECTED_KEYS = ["hh_id", "title", "content_id"]
RAW_EVENTS_KEY = ["smba_id", "exposure_start_ts"]


RAW_WATERMARK = "raw_events_update"
PANEL_WATERMARK = "panel_windows_update"


def read_watermark(wh: Warehouse, task_name: str) -> dt.date:
    """Scalar pull of one task's watermark."""
    return read_watermarks(wh).get(task_name, EPOCH_DEFAULT)


def _append_delta(
    wh: Warehouse, delta: DataFrame, table: str, bootstrap: bool
) -> int:
    """Append a MERGE's insert-only ``delta`` to ``table``; returns
    its row count.

    Incremental runs (the target exists) take the count from the
    write job itself (``Observation``): one evaluation of the merge
    chain, nothing materialized in between. The cost: an empty delta
    still lands one row-less parquet file in an unpartitioned table
    (Spark's writer keeps the schema that way), one more footer for
    later scans to read, against a count job saved on every pass
    that has data.

    Bootstrap runs count first: the count decides whether the table
    is created at all — a zero-row write would still create it, and
    the downstream tasks treat an existing table as "rows have
    arrived"."""
    if bootstrap:
        n = delta.count()
        if n:
            wh.append(delta, table)
        return n
    obs = Observation()
    wh.append(delta.observe(obs, F.count(F.lit(1)).alias("n")), table)
    return int(obs.get["n"])


def update_panel_windows(
    wh: Warehouse, geo_weights: DataFrame, wm: dt.date | None = None
) -> int:
    """Task 1 (``etl-dag.sql:8-26``): MERGE new panel Mondays.
    ``wm``: the pass's watermark snapshot; read here when omitted."""
    if wm is None:
        wm = read_watermark(wh, PANEL_WATERMARK)
    src = panel_windows(
        geo_weights.filter(F.col("metadata_date") > F.lit(wm))
    )
    target = wh.read("panel_windows") if wh.exists("panel_windows") else None
    delta = merge_insert_only(src, target, ["panel_monday"]).withColumn(
        "created_at", F.current_timestamp()
    )
    return _append_delta(wh, delta, "panel_windows", target is None)


def update_raw_events(
    wh: Warehouse, acr: DataFrame, stb: DataFrame, wm: dt.date | None = None
) -> int:
    """Task 2 (``etl-dag.sql:29-46``): MERGE new ACR ∪ STB events on
    the weak ``(smba_id, exposure_start_ts)`` key."""
    if wm is None:
        wm = read_watermark(wh, RAW_WATERMARK)
    new = raw_viewing_events(
        acr.filter(F.col("metadata_date") > F.lit(wm)),
        stb.filter(F.col("metadata_date") > F.lit(wm)),
    )
    target = (
        wh.read("raw_viewing_events")
        if wh.exists("raw_viewing_events")
        else None
    )
    delta = merge_insert_only(new, target, RAW_EVENTS_KEY).withColumn(
        "created_at", F.current_timestamp()
    )
    return _append_delta(wh, delta, "raw_viewing_events", target is None)


def update_weighted_events(
    wh: Warehouse, geo_weights: DataFrame, wm: dt.date | None = None
) -> int:
    """Task 3 (``etl-dag.sql:49-83``): panel-attribute + weight the new
    raw slice, MERGE on the same weak key. Reads the merged
    ``raw_viewing_events`` (not the feeds) and the merged
    ``panel_windows``, like the reference."""
    if wm is None:
        wm = read_watermark(wh, RAW_WATERMARK)
    if not wh.exists("raw_viewing_events"):
        return 0
    new_raw = (
        wh.read("raw_viewing_events")
        .drop("created_at")
        .filter(F.col("metadata_date") > F.lit(wm))
    )
    if wh.exists("panel_windows"):
        pw = wh.read("panel_windows")
    else:
        # tables exist from DDL in the reference; an absent parquet dir
        # means "no windows yet" -> every attribution comes back NULL
        pw = wh.spark.createDataFrame([], schemas.PANEL_WINDOWS)
    with_panel = attribute_panels(new_raw, pw)
    src = weighted_events(with_panel, geo_weights)
    target = (
        wh.read("weighted_events") if wh.exists("weighted_events") else None
    )
    delta = merge_insert_only(src, target, RAW_EVENTS_KEY).withColumn(
        "created_at", F.current_timestamp()
    )
    return _append_delta(wh, delta, "weighted_events", target is None)


def update_viewing_sessions(wh: Warehouse, wm: dt.date | None = None) -> int:
    """Task 4 (``etl-dag.sql:86-124``): affected-key recompute.
    Find touched (hh_id, title, content_id) groups -> DELETE their
    sessions -> re-sessionize those groups from ALL their weighted
    events -> INSERT. Returns the number of recomputed sessions.

    One plan, one write action: the affected keys, the recompute,
    the survivors and the commit's bookkeeping are a single DataFrame
    (``_rewrite_sessions``), and its write is the task's only action
    on the flat and hive layouts (AQE still runs the plan's shuffle
    and broadcast stages as jobs of their own). The existing
    sessions it reads depend on the Warehouse layout, and so does
    its commit:

    - default (flat): the whole table minus the affected groups'
      sessions, plus the recomputed ones, committed as ONE atomic
      table swap — stronger than the reference's two statements,
      same result; but the swap rewrites the whole table every pass.
    - ``viewing_sessions`` partitioned on ``panel_monday``
      (``Warehouse.SCALE_LAYOUT``): only the touched Mondays are
      read and rewritten. A session's ``panel_monday`` is a grouping
      column carried from its group's weighted events, so every
      existing or recomputed session of an affected group lives
      under a Monday of that group's events. The existing sessions
      are a left-semi join on those Mondays inside the plan, which
      dynamic partition pruning turns into a directory-pruned scan;
      the write is a dynamic partition overwrite, one file per
      Monday. At 100 TB this turns the daily pass from a full-table
      rewrite into a handful of directory rewrites.
    - additionally listed in ``Warehouse.manifest``
      (``MANIFEST_TABLES``): the same scoped rewrite, committed
      through ``sources/manifest.py`` — every touched Monday flips
      in ONE ``_CURRENT`` pointer swap, restoring the cross-partition
      atomicity the plain hive backend trades away. The manifest
      prunes before any listing, so this backend collects the
      touched Mondays first (one job).

    A touched Monday can lose every session (a late event re-cuts a
    group's sessions into parts below the 180 s floor); both
    partitioned commits clear such a Monday, using the expected
    Mondays the write job observes.
    """
    from ..sources.writer import overwrite_partitions

    if wm is None:
        wm = read_watermark(wh, RAW_WATERMARK)
    if not wh.exists("weighted_events"):
        return 0
    weighted = wh.read("weighted_events").drop("created_at")
    # TEMP TABLE affected_sessions_keys: a DISTINCT over the new slice,
    # planned into every consumer (no cache, no extra job)
    keys = (
        weighted.filter(F.col("metadata_date") > F.lit(wm))
        .select(*AFFECTED_KEYS)
        .distinct()
    )
    affected_events = semi_join_keys(weighted, keys, AFFECTED_KEYS)
    new_sessions = build_viewing_sessions(affected_events).withColumn(
        "created_at", F.current_timestamp()
    )
    if not wh.exists("viewing_sessions"):
        # bootstrap: the count is only the RETURN value, never a
        # decision, so take it from the write job itself
        # (Observation) — one evaluation of the full-history
        # sessionize, and nothing history-sized is materialized
        # on executor disks the way a localCheckpoint would
        obs = Observation()
        wh.write(
            new_sessions.observe(obs, F.count(F.lit(1)).alias("n")),
            "viewing_sessions",
        )
        return int(obs.get["n"])

    mondays = affected_events.select("panel_monday").distinct()
    manifest = wh.is_manifest("viewing_sessions")
    by_monday = wh.partitioning("viewing_sessions") == ["panel_monday"]
    if manifest:
        listed = [r[0] for r in mondays.collect()]
        if not listed:
            return 0
        existing = wh.read_partitions("viewing_sessions", listed)
    elif by_monday:
        existing = wh.read("viewing_sessions").join(
            F.broadcast(mondays), "panel_monday", "left_semi"
        )
    else:
        existing = wh.read("viewing_sessions")
    out, obs = _rewrite_sessions(
        existing, keys, new_sessions, mondays, by_monday
    )

    def expected() -> list:
        return obs.get["expected"]

    if manifest:
        wh.manifest_table("viewing_sessions").commit_dataframe(
            out, expected_partitions=expected
        )
    elif by_monday:
        overwrite_partitions(
            out,
            wh.path("viewing_sessions"),
            ["panel_monday"],
            expected_partitions=expected,
        )
    else:
        wh.write(out, "viewing_sessions")
    return int(obs.get["n_new"])


_ROW = "_row"  # 0 survivor, 1 recomputed session, 2 expected-Monday marker


def _rewrite_sessions(
    existing: DataFrame,
    keys: DataFrame,
    new_sessions: DataFrame,
    mondays: DataFrame,
    by_monday: bool,
) -> tuple[DataFrame, Observation]:
    """The rows every backend commits: ``existing`` minus the affected
    groups' sessions (``delete_by_keys``), plus ``new_sessions``.

    The returned frame carries ONE ``Observation`` at its root, so the
    write job reports ``n_new`` (the recomputed sessions) and
    ``expected`` (the touched Mondays, ``mondays``). The expected
    Mondays ride along as marker rows, dropped right above the
    observation. Every observation sits at the root on purpose: one
    placed below a join or union can be pruned away by AQE when its
    input is empty, and ``Observation.get`` then fails.

    ``by_monday``: hash the rows on ``panel_monday`` before the write,
    so that each touched Monday lands as one file."""
    tagged = (
        delete_by_keys(existing, keys, AFFECTED_KEYS)
        .withColumn(_ROW, F.lit(0))
        .unionByName(new_sessions.withColumn(_ROW, F.lit(1)))
        .unionByName(
            mondays.withColumn(_ROW, F.lit(2)), allowMissingColumns=True
        )
    )
    if by_monday:
        tagged = tagged.repartition("panel_monday")
    obs = Observation()
    marker = F.col(_ROW) == 2
    out = (
        tagged.observe(
            obs,
            F.count(F.when(F.col(_ROW) == 1, 1)).alias("n_new"),
            F.collect_set(F.when(marker, F.col("panel_monday"))).alias(
                "expected"
            ),
        )
        .filter(~marker)
        .drop(_ROW)
    )
    return out, obs


def _max_dates(*dfs: DataFrame, col: str = "metadata_date") -> list:
    """``max(col)`` of each frame (None for an empty one) from ONE
    Spark job: the maxima are observed metrics of a scan over the
    frames' union, which the no-op sink drives to completion. A plain
    ``agg`` per frame costs two jobs each under AQE (the exchange's
    map stage, then the result)."""
    tagged = [
        df.select(F.lit(i).alias("_i"), F.col(col).alias("_d"))
        for i, df in enumerate(dfs)
    ]
    union = functools.reduce(DataFrame.unionByName, tagged)
    obs = Observation()
    union.observe(obs, *[
        F.max(F.when(F.col("_i") == i, F.col("_d"))).alias(f"m{i}")
        for i in range(len(dfs))
    ]).write.format("noop").mode("overwrite").save()
    got = obs.get
    return [got[f"m{i}"] for i in range(len(dfs))]


def update_control_table(
    wh: Warehouse, acr: DataFrame, stb: DataFrame, geo_weights: DataFrame
) -> None:
    """Task 5 (``etl-dag.sql:127-145``): advance both watermarks.
    raw_events trails the slower feed (LEAST), panel_windows follows
    geo; empty feeds default to 1900-01-01. One Spark job (the feed
    maxima); the write is a driver file swap."""
    acr_max, stb_max, geo_max = (
        m or EPOCH_DEFAULT for m in _max_dates(acr, stb, geo_weights)
    )
    write_task_control(wh, [
        (RAW_WATERMARK, min(acr_max, stb_max)),
        (PANEL_WATERMARK, geo_max),
    ])


def build_dag(
    wh: Warehouse, acr: DataFrame, stb: DataFrame, geo_weights: DataFrame
) -> TaskDag:
    """The five-task DAG with the reference's exact edges
    (``etl-dag.sql`` AFTER clauses; cron '0 5 * * *' UTC on the root).
    Tasks 1 and 2 run concurrently.

    The root reads ``task_control`` once for the whole pass and hands
    each task its watermark, so the pass sees one snapshot without a
    read per task; the control task drops the snapshot before it
    advances the table. A task run on its own (``run_task``, no root
    in the pass) reads its watermark itself."""
    marks: dict[str, dt.date] = {}

    def kickoff() -> str:
        got = read_watermarks(wh)
        marks.clear()
        marks.update({
            n: got.get(n, EPOCH_DEFAULT)
            for n in (RAW_WATERMARK, PANEL_WATERMARK)
        })
        return "kickoff"

    def advance() -> None:
        marks.clear()
        update_control_table(wh, acr, stb, geo_weights)

    dag = TaskDag()
    dag.add("root_kickoff", kickoff, schedule="0 5 * * * UTC")
    dag.add(
        "update_panel_windows",
        lambda: update_panel_windows(
            wh, geo_weights, marks.get(PANEL_WATERMARK)
        ),
        after=["root_kickoff"],
    )
    dag.add(
        "update_raw_events",
        lambda: update_raw_events(wh, acr, stb, marks.get(RAW_WATERMARK)),
        after=["root_kickoff"],
    )
    dag.add(
        "update_weighted_events",
        lambda: update_weighted_events(
            wh, geo_weights, marks.get(RAW_WATERMARK)
        ),
        after=["update_panel_windows", "update_raw_events"],
    )
    dag.add(
        "update_viewing_sessions",
        lambda: update_viewing_sessions(wh, marks.get(RAW_WATERMARK)),
        after=["update_weighted_events"],
    )
    dag.add(
        "update_control_table",
        advance,
        after=["update_viewing_sessions"],
    )
    return dag


def run_incremental(
    wh: Warehouse, acr: DataFrame, stb: DataFrame, geo_weights: DataFrame
) -> dict[str, object]:
    """One incremental pass (the daily run)."""
    return build_dag(wh, acr, stb, geo_weights).run()
