"""Full-rebuild backfill — reference entry point 2
(``etl-ddl-backfill.sql`` run top-to-bottom, SURVEY §3).

A linear chain of materializations; each step reads the previous
step's table from storage (deliberate materialization boundaries —
the watermark/incremental layer depends on them). Within a step the
whole CTE chain is one lazy DataFrame -> one Catalyst plan.

``Warehouse`` is the engine's catalog: a directory of named parquet
tables (the Snowflake schema analog).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass
from zoneinfo import ZoneInfo

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import schemas
from ..operators.metrics import audience_metrics
from ..operators.panels import attribute_panels, panel_windows
from ..operators.sessionize import DEFAULT_MIN_TOTAL_DURATION, sessionize
from ..operators.union_events import raw_viewing_events
from ..operators.weighting import weighted_events
from ..sources import control
from ..sources.writer import append as writer_append
from ..sources.writer import atomic_overwrite, recover_swap

# sessionization spec (etl-ddl-backfill.sql:144,190-192)
SESSION_PARTITION = ["hh_id", "title", "content_id"]
SESSION_GROUP = [
    "dma", "hh_id", "source_table", "content_type", "application",
    "title", "content_id", "episode_title", "season", "episode",
    "network", "panel_monday", "panel_weight",
]


_TASK_CONTROL = to_arrow_schema(schemas.TASK_CONTROL)


@dataclass
class Warehouse:
    """Directory-of-parquet-tables catalog (the Snowflake schema
    analog), in the hive layout of the 100 TB storage design: the
    raw and weighted tables partition on ``metadata_date``, so every
    watermark filter (``metadata_date > wm``) prunes whole
    directories before I/O, and ``viewing_sessions`` partitions on
    ``panel_monday``, so the incremental DELETE+INSERT rewrites only
    the touched Mondays (``overwrite_partitions``). Tables outside
    the layout (``panel_windows``, ``task_control``) are flat.

    Commits are per directory: a whole-table write (the backfill) is
    one atomic swap, and the sessions rewrite replaces one Monday
    directory at a time, the standard Spark/Hive contract. A pass
    that crashes part-way is repaired by its replay: the watermarks
    advance only after the sessions task, and the affected-key
    recompute is idempotent per group. The reference delegates the
    equivalent to Snowflake DML.

    ``layout`` may add partitioned tables, but ``viewing_sessions``
    must stay partitioned on ``panel_monday``: the incremental
    rewrite depends on it.
    """

    spark: SparkSession
    root: str
    layout: dict[str, list[str]] | None = None

    SCALE_LAYOUT = {
        "raw_viewing_events": ["metadata_date"],
        "weighted_events": ["metadata_date"],
        "viewing_sessions": ["panel_monday"],
    }
    # declared schemas of the modelling tables, in write order: a read
    # with one launches no footer-inference job
    SCHEMAS = {
        "panel_windows": schemas.PANEL_WINDOWS,
        "raw_viewing_events": schemas.RAW_VIEWING_EVENTS,
        "weighted_events": schemas.WEIGHTED_EVENTS,
        "viewing_sessions": schemas.VIEWING_SESSIONS,
    }

    def __post_init__(self) -> None:
        if self.layout is None:
            self.layout = self.SCALE_LAYOUT
        if self.layout.get("viewing_sessions") != ["panel_monday"]:
            raise ValueError(
                "viewing_sessions must be partitioned on panel_monday, "
                f"got {self.layout.get('viewing_sessions')!r}"
            )

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def partitioning(self, table: str) -> list[str] | None:
        return self.layout.get(table)

    def schema(self, table: str) -> StructType | None:
        """``table``'s declared schema in the order a read returns
        it: hive partition columns last. None for a table without
        one."""
        declared = self.SCHEMAS.get(table)
        if declared is None:
            return None
        part = self.partitioning(table) or []
        return StructType(
            [f for f in declared.fields if f.name not in part]
            + [declared[c] for c in part]
        )

    def read(self, table: str) -> DataFrame:
        recover_swap(self.spark, self.path(table))
        schema = self.schema(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

    def write(self, df: DataFrame, table: str,
              partition_by: list[str] | None = None) -> None:
        atomic_overwrite(
            df, self.path(table), partition_by or self.partitioning(table)
        )

    def append(self, df: DataFrame, table: str) -> None:
        writer_append(df, self.path(table), self.partitioning(table))

    def exists(self, table: str) -> bool:
        """Whether ``table`` is on disk, after finishing a directory
        swap that crashed between its two renames: such a table is
        missing only for the moment between them, never "absent"."""
        return recover_swap(self.spark, self.path(table))


def build_viewing_sessions(
    weighted: DataFrame,
    min_total_duration: int | None = DEFAULT_MIN_TOTAL_DURATION,
) -> DataFrame:
    """Sessionize weighted events with the reference's exact keys.
    ``min_total_duration=None`` keeps the sessions below the floor."""
    return sessionize(
        weighted,
        partition_cols=SESSION_PARTITION,
        order_col="exposure_start_ts",
        end_col="exposure_end_ts",
        duration_col="duration",
        group_cols=SESSION_GROUP,
        min_total_duration=min_total_duration,
    ).select(
        "hh_id", "dma", "source_table", "content_type", "application",
        "title", "content_id", "episode_title", "season", "episode",
        "network", "panel_monday", "session_id",
        "session_start_ts", "session_end_ts", "total_duration",
        "panel_weight",
    )


def backfill(wh: Warehouse, acr: DataFrame, stb: DataFrame,
             geo_weights: DataFrame) -> None:
    """panel_windows -> raw_viewing_events -> weighted_events ->
    viewing_sessions (+ task_control seed). Each step materializes
    with created_at audit columns like the reference CTAS chain."""
    now = F.current_timestamp()

    pw = panel_windows(geo_weights).withColumn("created_at", now)
    wh.write(pw, "panel_windows")
    pw = wh.read("panel_windows")

    events = raw_viewing_events(acr, stb).withColumn("created_at", now)
    wh.write(events, "raw_viewing_events")
    events = wh.read("raw_viewing_events").drop("created_at")

    with_panel = attribute_panels(events, pw)
    weighted = weighted_events(with_panel, geo_weights).withColumn(
        "created_at", now
    )
    wh.write(weighted, "weighted_events")
    weighted = wh.read("weighted_events").drop("created_at")

    sessions = build_viewing_sessions(weighted).withColumn("created_at", now)
    wh.write(sessions, "viewing_sessions")

    seed_task_control(wh)


def seed_task_control(wh: Warehouse) -> None:
    """Both watermarks at CURRENT_DATE() in the session's time zone,
    as Spark evaluates it (``etl-ddl-backfill.sql``'s seed INSERT)."""
    today = dt.datetime.now(
        ZoneInfo(wh.spark.conf.get("spark.sql.session.timeZone"))
    ).date()
    write_task_control(
        wh, [("raw_events_update", today), ("panel_windows_update", today)]
    )


def write_task_control(wh: Warehouse, rows: list[tuple[str, dt.date]]) -> None:
    """Replace ``task_control`` with ``(task_name, date)`` rows, on
    the driver (``sources/control.py``): no Spark job, no Python
    worker, and the directory swap of ``atomic_overwrite``."""
    names, dates = zip(*rows)
    control.overwrite_table(
        wh.spark,
        wh.path("task_control"),
        pa.table([list(names), list(dates)], schema=_TASK_CONTROL),
    )


def read_watermarks(wh: Warehouse) -> dict[str, dt.date]:
    """Every ``last_successful_run_date`` by task name (reference
    ``etl-dag.sql:22`` et al; SURVEY §2.2-P11), read on the driver
    (``sources/control.py``): no Spark job. A ``task_control`` swap
    that crashed between its renames is finished first, or the read
    would find no table and every watermark would fall back to the
    epoch."""
    path = wh.path("task_control")
    recover_swap(wh.spark, path)
    t = control.read_table(wh.spark, path, _TASK_CONTROL)
    return dict(zip(
        t["task_name"].to_pylist(),
        t["last_successful_run_date"].to_pylist(),
    ))


def v_audience_metrics(wh: Warehouse) -> DataFrame:
    """The non-materialized view (etl-ddl-backfill.sql:196-222)."""
    return audience_metrics(wh.read("viewing_sessions"))
