"""Feed ingestion — the engine's ``COPY INTO`` (reference
``ingest-dag.sql`` tasks / ``ingest-backfill.sql`` one-shots; they are
the same statement, idempotent through the load ledger).

Schema-on-read: the declared feed schema is projected onto whatever
the parquet files contain — present columns are cast, missing columns
become typed NULLs (the ``$1:field::TYPE`` idiom nulls missing paths,
SURVEY §1.3). Path-derived yyyy/mm/dd/metadata_date override any
same-named file columns, exactly like the ingest SELECTs.

The raw table is written partitioned by yyyy/mm/dd, mirroring the S3
layout so watermark predicates prune partitions downstream (BASELINE
intent: "read only new data per run").
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from .ledger import LoadLedger
from .stage import discover_feed, read_stage_files
from .writer import append

FEED_SCHEMAS: dict[str, T.StructType] = {
    "ACR": schemas.ACR,
    "STB": schemas.STB,
    "GEO_WEIGHTS": schemas.GEO_WEIGHTS,
}

# columns derived from the file path, not the file contents
_PATH_COLUMNS = {"yyyy", "mm", "dd", "metadata_date"}


def project_declared_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast present columns / NULL missing ones, in declared order."""
    have = {c.lower() for c in df.columns}
    cols = []
    for field in schema.fields:
        if field.name.lower() in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def read_feed_table(spark: SparkSession, path: str, feed: str) -> DataFrame:
    """Read a raw feed table with its declared schema. The table is
    hive-partitioned by yyyy/mm/dd; supplying the schema pins the
    partition-column types (STB/GEO keep them as strings, ACR as ints
    — the reference's declared inconsistency, SURVEY §1.2) instead of
    letting partition type inference decide."""
    return (
        spark.read.schema(FEED_SCHEMAS[feed])
        .parquet(path)
        .select([f.name for f in FEED_SCHEMAS[feed].fields])
    )


@dataclass
class IngestResult:
    feed: str
    files_loaded: int
    rows_loaded: int


def ingest_feed(
    spark: SparkSession,
    stage_base: str,
    feed: str,
    target_path: str,
    ledger_path: str,
    subdir: str = "",
) -> IngestResult:
    """One COPY-INTO run: discover -> minus ledger -> transform ->
    append -> ledger. Re-running with no new files is a no-op."""
    ledger = LoadLedger(spark, ledger_path)
    discovered = discover_feed(spark, stage_base, feed, subdir)
    new = ledger.new_files(feed, discovered)
    if not new:
        return IngestResult(feed, 0, 0)
    raw = read_stage_files(spark, new)
    # path-derived columns win over any same-named file columns
    projected = project_declared_schema(raw, FEED_SCHEMAS[feed])
    # the row count comes from the append job itself: one scan
    obs = Observation()
    append(
        projected.observe(obs, F.count(F.lit(1)).alias("n")),
        target_path,
        ["yyyy", "mm", "dd"],
    )
    ledger.record(feed, new)
    return IngestResult(feed, len(new), int(obs.get["n"]))


# The reference schedules all three ingest tasks at 00:04 LOCAL New
# York time (ingest-dag.sql:3,58,114) while the ETL DAG root runs at
# 05:00 UTC (etl-dag.sql:3). Under EDT (UTC-4) ingest fires 04:04 UTC
# — 56 min before the ETL root; under EST (UTC-5) it fires 05:04 UTC
# — 4 min AFTER it, so the winter ETL pass processes yesterday's
# files. A reference quirk worth preserving verbatim, not fixing;
# tests/test_plans.py::test_ingest_dag_timezones pins both instants
# across a DST boundary.
INGEST_CRON = "4 0 * * *"
INGEST_TZ = "America/New_York"


def build_ingest_dag(
    spark: SparkSession,
    stage_base: str,
    warehouse_root: str,
    ledger_path: str,
):
    """The three independent COPY-INTO tasks of ``ingest-dag.sql``
    (STB/ACR/GEO_WEIGHTS), each on the reference's New-York daily
    cron, all resumed — no edges between them, matching the
    reference's flat task set, so a run loads the three feeds
    concurrently. Each task appends to its own feed table; their
    shared load-ledger appends are serialised by ``writer.append``."""
    import os

    from ..plans.dag import TaskDag

    dag = TaskDag()
    for feed, subdir in (
        ("STB", "STB"), ("ACR", "ACR"), ("GEO_WEIGHTS", "Geo-Weights")
    ):
        dag.add(
            f"{feed.lower()}_ingest",
            (lambda f=feed, s=subdir: ingest_feed(
                spark, stage_base, f,
                os.path.join(warehouse_root, f.lower()),
                ledger_path, subdir=s,
            )),
            schedule=INGEST_CRON,
            timezone=INGEST_TZ,
        )
    return dag
