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
from ..sources.writer import atomic_overwrite

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
    analog).

    ``layout`` opts tables into hive partitioning — the 100 TB
    storage design: raw/weighted tables partition on
    ``metadata_date`` so every watermark filter
    (``metadata_date > wm``) prunes whole directories before I/O,
    and ``viewing_sessions`` partitions on ``panel_monday`` so the
    incremental DELETE+INSERT rewrites only the touched Mondays
    (``overwrite_partitions``) instead of swapping the whole table.

    ``manifest`` opts tables into the manifest-committed backend
    (``sources/manifest.py``): still hive-shaped parquet, but commits
    go through an immutable manifest + ``_CURRENT`` pointer swap, so
    a multi-partition rewrite is ATOMIC across partitions and readers
    get snapshot isolation + time travel. A manifest table must also
    appear in ``layout`` with exactly one partition column.

    Tradeoffs, stated: the default (no layout) keeps the per-table
    atomic swap but rewrites everything each pass; the partitioned
    backend rewrites only touched partitions but commits them one
    directory at a time (the standard Spark/Hive contract); the
    manifest backend has both scoped rewrites and cross-partition
    atomicity, at the cost of a vacuum obligation for superseded
    versions. The reference delegates the equivalent to Snowflake DML.
    """

    spark: SparkSession
    root: str
    layout: dict[str, list[str]] | None = None
    manifest: frozenset[str] | set[str] | None = None

    # the scale defaults; pass layout=SCALE_LAYOUT to opt in
    SCALE_LAYOUT = {
        "raw_viewing_events": ["metadata_date"],
        "weighted_events": ["metadata_date"],
        "viewing_sessions": ["panel_monday"],
    }
    # the ACID upgrade of SCALE_LAYOUT: the one table the incremental
    # DAG rewrites across multiple partitions per pass
    MANIFEST_TABLES = frozenset({"viewing_sessions"})
    # declared schemas of the modelling tables, in write order: a read
    # with one launches no footer-inference job
    SCHEMAS = {
        "panel_windows": schemas.PANEL_WINDOWS,
        "raw_viewing_events": schemas.RAW_VIEWING_EVENTS,
        "weighted_events": schemas.WEIGHTED_EVENTS,
        "viewing_sessions": schemas.VIEWING_SESSIONS,
    }

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def partitioning(self, table: str) -> list[str] | None:
        return (self.layout or {}).get(table)

    def is_manifest(self, table: str) -> bool:
        return table in (self.manifest or ())

    def manifest_table(self, table: str):
        from ..sources.manifest import ManifestTable

        cols = self.partitioning(table)
        if not cols or len(cols) != 1:
            raise ValueError(
                f"manifest table {table!r} needs exactly one layout "
                f"partition column, got {cols!r}"
            )
        return ManifestTable(
            self.spark, self.path(table), cols[0], self.schema(table)
        )

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
        if self.is_manifest(table):
            return self.manifest_table(table).read()
        schema = self.schema(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

    def read_partitions(self, table: str, values: list) -> DataFrame:
        """Read only the listed partition values. Manifest backend:
        pruned at the manifest BEFORE any directory listing; hive
        backend: partition-pruned filter (directories pruned by the
        scan, after listing)."""
        if self.is_manifest(table):
            return self.manifest_table(table).read(
                partitions=[str(v) for v in values]
            )
        col = (self.partitioning(table) or [None])[0]
        if col is None:
            raise ValueError(f"{table!r} has no partition column")
        return self.read(table).filter(F.col(col).isin(list(values)))

    def write(self, df: DataFrame, table: str,
              partition_by: list[str] | None = None) -> None:
        if self.is_manifest(table):
            self.manifest_table(table).commit_dataframe(df, full=True)
            return
        atomic_overwrite(
            df, self.path(table), partition_by or self.partitioning(table)
        )

    def append(self, df: DataFrame, table: str) -> None:
        if self.is_manifest(table):
            raise NotImplementedError(
                "manifest backend covers rewritten tables; insert-only "
                "tables use the plain append backend"
            )
        writer_append(df, self.path(table), self.partitioning(table))

    def exists(self, table: str) -> bool:
        if self.is_manifest(table):
            return self.manifest_table(table).exists()
        sc = self.spark.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(self.path(table))
        return bool(p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p))


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
    (``sources/control.py``): no Spark job."""
    t = control.read_table(wh.spark, wh.path("task_control"), _TASK_CONTROL)
    return dict(zip(
        t["task_name"].to_pylist(),
        t["last_successful_run_date"].to_pylist(),
    ))


def v_audience_metrics(wh: Warehouse) -> DataFrame:
    """The non-materialized view (etl-ddl-backfill.sql:196-222)."""
    return audience_metrics(wh.read("viewing_sessions"))
