"""Load ledger — the engine's replacement for Snowflake COPY load
history (file-level exactly-once, SURVEY §2.1-S5 / §4.2-3).

A parquet table of already-ingested file paths per feed. Ingest =
discovered files MINUS ledger -> read -> append -> ledger append.
The ledger row is written only after the data append commits, so a
crash re-runs the file (append of the same file twice is prevented by
re-checking the ledger first — the COPY idempotency contract that
makes the daily task and the backfill the same statement).

Scale: the ledger is a path-keyed metadata table (millions of rows at
most), read driver-side as a set; at true fleet scale swap the set
for a broadcast anti-join on the file list DataFrame.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import schemas
from .writer import append

# Past this many values, a literal F.array(...) becomes one giant
# generated expression (the ISIN_LITERAL_CAP / Janino blowup class):
# fall back to a Python-local relation, whose one-off ~seconds of
# Python-runner cost is the bounded price of a bounded plan.
LITERAL_ROWS_CAP = 1024


def literal_strings_frame(spark, values: list[str], name: str):
    """One-column (``name`` string) DataFrame from a driver-side list
    of strings — the shared control-table row source (load ledger,
    curation run manifest). JVM-born rows (range+explode over
    literals) instead of a Python-local relation: writing a
    ``createDataFrame`` result through one task drains every pickled
    partition through the Python runner at ~4-5 s per write action
    (measured, r12); the literal form writes in ~0.1 s. Past
    ``LITERAL_ROWS_CAP`` values the literal expression itself would
    blow up codegen, so it falls back to ``createDataFrame`` —
    ``repartition(1)``, not ``coalesce(1)``, so the pickled
    partitions drain on parallel map tasks before the single-file
    shuffle."""
    if not values:
        # explode(array()) yields a VOID column parquet refuses even
        # for zero rows — hand back a typed empty relation instead
        return spark.createDataFrame([], f"{name} string")
    if len(values) <= LITERAL_ROWS_CAP:
        return spark.range(1).select(
            F.explode(F.array(*[F.lit(v) for v in values])).alias(name)
        )
    return spark.createDataFrame(
        [(v,) for v in values], f"{name} string"
    ).repartition(1)


class LoadLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        sc = self.spark.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))

    def seen(self, feed: str) -> set[str]:
        if not self._exists():
            return set()
        df = self.spark.read.schema(schemas.LOAD_LEDGER).parquet(self.path)
        return {
            r["file_path"]
            for r in df.filter(F.col("feed") == feed).select("file_path").collect()
        }

    def new_files(self, feed: str, discovered: list[str]) -> list[str]:
        seen = self.seen(feed)
        return [f for f in discovered if f not in seen]

    def record(self, feed: str, files: list[str]) -> None:
        if not files:
            return
        df = (
            literal_strings_frame(self.spark, files, "file_path")
            .withColumn("feed", F.lit(feed))
            .withColumn("loaded_at", F.current_timestamp())
            .coalesce(1)
        )
        # every feed's ingest task appends here, possibly at once:
        # writer.append keeps their jobs out of each other's staging
        append(df, self.path)
