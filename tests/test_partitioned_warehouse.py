"""Partition-scoped storage backend (Warehouse.SCALE_LAYOUT).

The 100 TB mutation path: raw/weighted tables hive-partition on
``metadata_date`` (watermark filters prune directories), and
``viewing_sessions`` partitions on ``panel_monday`` so the
incremental DELETE+INSERT rewrites only the touched Mondays via
dynamic partition overwrite instead of swapping the whole table.

Checks here:
- result equivalence: the partitioned day-by-day replay produces
  exactly the default (atomic-swap) backend's sessions;
- physical locality: a pass that touches only new Mondays leaves the
  untouched Mondays' parquet files byte-identical on disk;
- plan: the watermark filter reaches the partitioned scan as a
  partition filter (directory pruning, not post-scan filtering);
- emptied partitions: ``overwrite_partitions`` clears an expected
  partition that receives zero output rows (dynamic overwrite alone
  cannot delete what it does not write).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.plans.backfill import Warehouse, backfill
from samba_tv_ingest_etl_spark.plans.incremental import run_incremental
from samba_tv_ingest_etl_spark.sources.writer import overwrite_partitions

from . import samba_fixtures as fx
from .test_incremental import SESSION_COLS, _arrival_dates


@pytest.fixture()
def feeds(spark):
    return fx.acr(spark), fx.stb(spark), fx.geo_weights(spark)


def _sessions_set(wh):
    return sorted(
        map(tuple, wh.read("viewing_sessions").select(*SESSION_COLS).collect())
    )


def _partition_files(wh, table):
    """{partition dir name: {file name: (size, mtime)}} snapshot."""
    root = wh.path(table)
    out = {}
    for part in os.listdir(root):
        full = os.path.join(root, part)
        if not os.path.isdir(full):
            continue
        out[part] = {
            f: (os.path.getsize(os.path.join(full, f)),
                os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_partitioned_replay_equals_default(spark, tmp_path, feeds):
    acr, stb, geo = feeds
    wh_flat = Warehouse(spark, str(tmp_path / "flat"))
    backfill(wh_flat, acr, stb, geo)

    wh_part = Warehouse(
        spark, str(tmp_path / "part"), layout=Warehouse.SCALE_LAYOUT
    )
    for day in _arrival_dates(acr, stb):
        le = F.col("metadata_date") <= F.lit(day)
        run_incremental(wh_part, acr.filter(le), stb.filter(le), geo)

    assert _sessions_set(wh_part) == _sessions_set(wh_flat)
    # the layout actually took effect on disk
    parts = os.listdir(wh_part.path("viewing_sessions"))
    assert any(p.startswith("panel_monday=") for p in parts)
    assert any(
        p.startswith("metadata_date=")
        for p in os.listdir(wh_part.path("weighted_events"))
    )


def test_untouched_partitions_not_rewritten(spark, tmp_path, feeds):
    """Second pass touches only M2 groups -> the M1 Monday directory
    must be byte-identical (file sizes AND mtimes)."""
    acr, stb, geo = feeds
    wh = Warehouse(
        spark, str(tmp_path / "wh"), layout=Warehouse.SCALE_LAYOUT
    )
    days = _arrival_dates(acr, stb)
    # first pass: everything except the last arrival day
    first = F.col("metadata_date") <= F.lit(days[-2])
    run_incremental(wh, acr.filter(first), stb.filter(first), geo)
    before = _partition_files(wh, "viewing_sessions")
    # Mondays whose groups gain no new events in the final day
    last_acr = acr.filter(F.col("metadata_date") == F.lit(days[-1]))
    last_stb = stb.filter(F.col("metadata_date") == F.lit(days[-1]))
    touched_devs = {
        r[0]
        for df in (last_acr, last_stb)
        for r in df.select("smba_id").distinct().collect()
    }
    run_incremental(wh, acr, stb, geo)
    after = _partition_files(wh, "viewing_sessions")
    hh_by_dev = {
        r["smba_id"]: r["hh_id"]
        for r in geo.select("smba_id", "hh_id").distinct().collect()
    }
    touched_hh = {hh_by_dev.get(d) for d in touched_devs}
    vs = wh.read("viewing_sessions")
    touched_mondays = {
        f"panel_monday={r[0]}"
        for r in vs.filter(F.col("hh_id").isin(list(touched_hh)))
        .select("panel_monday")
        .distinct()
        .collect()
    }
    untouched = set(before) - touched_mondays
    assert untouched, "fixture must leave at least one Monday untouched"
    for part in untouched:
        assert after[part] == before[part], f"{part} was rewritten"


def test_watermark_filter_prunes_partitions(spark, tmp_path, feeds):
    """BASELINE.md's 'read only new data': on the date-partitioned
    layout the watermark predicate must show up as a PartitionFilter
    on the scan — pruned before I/O, not filtered after."""
    acr, stb, geo = feeds
    wh = Warehouse(
        spark, str(tmp_path / "wh"), layout=Warehouse.SCALE_LAYOUT
    )
    run_incremental(wh, acr, stb, geo)
    wm = fx.M1
    df = wh.read("weighted_events").filter(F.col("metadata_date") > F.lit(wm))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the date predicate is IN the partition filters, not just the
    # data filters (metadata_date is the partition column)
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "metadata_date" in m.group(1), plan


def test_overwrite_partitions_clears_emptied(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b")], ["id", "part"]
    )
    overwrite_partitions(df, path, ["part"])
    assert sorted(
        p for p in os.listdir(path) if p.startswith("part=")
    ) == ["part=a", "part=b"]
    # rewrite of {a, b}: partition a keeps one row, b loses all rows
    out = spark.createDataFrame([(9, "a")], ["id", "part"])
    overwrite_partitions(out, path, ["part"], expected_partitions=["a", "b"])
    back = spark.read.parquet(path)
    assert [tuple(r) for r in back.collect()] == [(9, "a")]
    assert not os.path.exists(os.path.join(path, "part=b"))


def test_overwrite_partitions_leaves_unlisted(spark, tmp_path):
    """A partition NOT in the written df and NOT expected stays."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "part"]
    ).write.partitionBy("part").parquet(path)
    overwrite_partitions(
        spark.createDataFrame([(7, "a")], ["id", "part"]),
        path,
        ["part"],
        expected_partitions=["a"],
    )
    rows = {
        tuple(r) for r in spark.read.parquet(path).collect()
    }
    assert rows == {(7, "a"), (2, "b")}


def test_dynamic_overwrites_leave_session_conf_alone(spark, tmp_path):
    """``overwrite_partitions`` and the curated landing replace only
    the partitions they write through the PER-WRITE option: with the
    session left on static mode they still keep other partitions, and
    the session conf (which concurrently running tasks also read) is
    the same afterwards."""
    from samba_tv_ingest_etl_spark.plans.curation import CurationDag

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], ["id", "part"]
        ).write.partitionBy("part").parquet(path)
        overwrite_partitions(
            spark.createDataFrame([(7, "a")], ["id", "part"]), path, ["part"]
        )
        assert {tuple(r) for r in spark.read.parquet(path).collect()} == {
            (7, "a"), (2, "b")
        }
        assert spark.conf.get(key) == "static"

        dag = CurationDag(
            spark, str(tmp_path / "cur"),
            spark.createDataFrame([], "doc_id long, toks array<string>"),
        )
        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        dag._write_curated(docs, "r1")
        dag._write_curated(docs, "r2")
        assert sorted(
            r["run_id"] for r in spark.read.parquet(dag.curated_path)
            .select("run_id").collect()
        ) == ["r1", "r2"]
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)


def test_overwrite_partitions_clears_emptied_date_partition(spark, tmp_path):
    """Partition values that are DATEs: the cleanup path builds the
    hive dir name from str(value) — 'col=2025-06-02' — which must
    match what Spark wrote."""
    import datetime as dt

    path = str(tmp_path / "t")
    d1, d2 = dt.date(2025, 6, 2), dt.date(2025, 6, 9)
    spark.createDataFrame(
        [(1, d1), (2, d2)], ["id", "day"]
    ).write.partitionBy("day").parquet(path)
    overwrite_partitions(
        spark.createDataFrame([(9, d1)], ["id", "day"]),
        path,
        ["day"],
        expected_partitions=[d1, d2],
    )
    assert not os.path.exists(os.path.join(path, f"day={d2}"))
    rows = [(r["id"], r["day"]) for r in spark.read.parquet(path).collect()]
    assert rows == [(9, d1)]


def test_partitioned_backfill_then_incremental(spark, tmp_path, feeds):
    """The migration path: an initial BACKFILL lands directly on the
    partitioned layout (Warehouse.write applies the table layout), and
    subsequent incremental passes mutate it partition-scoped —
    end state equals the all-flat pipeline."""
    acr, stb, geo = feeds
    days = _arrival_dates(acr, stb)
    cut = days[-2]

    wh_flat = Warehouse(spark, str(tmp_path / "flat"))
    early = F.col("metadata_date") <= F.lit(cut)
    backfill(wh_flat, acr.filter(early), stb.filter(early), geo)
    run_incremental(wh_flat, acr, stb, geo)

    wh_part = Warehouse(
        spark, str(tmp_path / "part"), layout=Warehouse.SCALE_LAYOUT
    )
    backfill(wh_part, acr.filter(early), stb.filter(early), geo)
    assert any(
        p.startswith("panel_monday=")
        for p in __import__("os").listdir(wh_part.path("viewing_sessions"))
    ), "backfill must land on the partitioned layout"
    run_incremental(wh_part, acr, stb, geo)

    assert _sessions_set(wh_part) == _sessions_set(wh_flat)
