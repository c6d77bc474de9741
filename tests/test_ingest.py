"""Ingest layer: stage discovery (COPY pattern semantics), declared-
schema projection, load-ledger idempotency, path-derived partitions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.sources.ingest import (
    ingest_feed,
    read_feed_table,
)
from samba_tv_ingest_etl_spark.sources.stage import discover_feed


@pytest.fixture()
def stage(spark, tmp_path):
    """Mini stage mirroring FIXTURES.md layout; files carry raw feed
    columns WITHOUT yyyy/mm/dd/metadata_date (those derive from path).
    STB files lack `application`/`release_date` (declared for ACR
    only) and also lack `zip` to exercise missing-column NULLing."""
    base = str(tmp_path / "stage")

    def write(feed_dir, rows, cols):
        df = spark.createDataFrame(rows, cols)
        path = os.path.join(base, feed_dir)
        df.coalesce(1).write.mode("overwrite").parquet(path)
        # drop spark's _SUCCESS to keep only parquet part files visible
        return path

    write(
        "STB/yyyy=2025/mm=06/dd=02",
        [("dev_1", 1000, 1100, 100, "t1", "ct_1"),
         ("dev_2", 2000, 2200, 200, "t2", "ct_2")],
        ["smba_id", "exposure_start_ts", "exposure_end_ts", "duration",
         "title", "content_id"],
    )
    write(
        "STB/yyyy=2025/mm=06/dd=03",
        [("dev_1", 5000, 5600, 600, "t1", "ct_1")],
        ["smba_id", "exposure_start_ts", "exposure_end_ts", "duration",
         "title", "content_id"],
    )
    # hive-default partition: COPY pattern must EXCLUDE it (digits req'd)
    write(
        "STB/yyyy=__HIVE_DEFAULT_PARTITION__/mm=__HIVE_DEFAULT_PARTITION__/dd=__HIVE_DEFAULT_PARTITION__",
        [("dev_9", 9000, 9100, 100, "t9", "ct_9")],
        ["smba_id", "exposure_start_ts", "exposure_end_ts", "duration",
         "title", "content_id"],
    )
    write(
        "Geo-Weights/yyyy=2025/mm=06/dd=02",
        [("hh_1", "dev_1", 1.5), ("hh_2", "dev_2", 0.8)],
        ["hh_id", "smba_id", "geo_weight"],
    )
    return base


def test_discover_respects_copy_pattern(spark, stage):
    files = discover_feed(spark, stage, "STB")
    assert len(files) >= 2
    assert all("__HIVE_DEFAULT_PARTITION__" not in f for f in files)
    assert all(f.endswith(".parquet") for f in files)
    # _SUCCESS markers and other feeds excluded
    assert all("Geo-Weights" not in f for f in files)


def test_ingest_projects_declared_schema(spark, stage, tmp_path):
    target = str(tmp_path / "raw_stb")
    ledger = str(tmp_path / "ledger")
    res = ingest_feed(spark, stage, "STB", target, ledger)
    assert res.files_loaded == 2 and res.rows_loaded == 3

    out = read_feed_table(spark, target, "STB")
    # declared STB schema: yyyy/mm/dd strings, metadata_date date,
    # missing file columns (zip, network, ...) present as NULLs
    row = out.filter(out.smba_id == "dev_1").filter(out.exposure_start_ts == 1000).collect()[0]
    assert row["yyyy"] == "2025" and row["mm"] == "06" and row["dd"] == "02"
    assert str(row["metadata_date"]) == "2025-06-02"
    assert row["zip"] is None and row["network"] is None
    assert row["duration"] == 100
    assert "application" not in out.columns  # STB has no application col


def test_ingest_idempotent_via_ledger(spark, stage, tmp_path):
    target = str(tmp_path / "raw_stb")
    ledger = str(tmp_path / "ledger")
    first = ingest_feed(spark, stage, "STB", target, ledger)
    again = ingest_feed(spark, stage, "STB", target, ledger)
    assert first.rows_loaded == 3
    assert again.files_loaded == 0 and again.rows_loaded == 0
    assert spark.read.parquet(target).count() == 3


def test_ingest_picks_up_new_files_only(spark, stage, tmp_path):
    target = str(tmp_path / "raw_stb")
    ledger = str(tmp_path / "ledger")
    ingest_feed(spark, stage, "STB", target, ledger)
    # a new day arrives
    spark.createDataFrame(
        [("dev_3", 7000, 7300, 300, "t3", "ct_3")],
        ["smba_id", "exposure_start_ts", "exposure_end_ts", "duration",
         "title", "content_id"],
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, "STB/yyyy=2025/mm=06/dd=04")
    )
    res = ingest_feed(spark, stage, "STB", target, ledger)
    assert res.files_loaded == 1 and res.rows_loaded == 1
    assert spark.read.parquet(target).count() == 4


def test_geo_weights_feed(spark, stage, tmp_path):
    target = str(tmp_path / "raw_geo")
    ledger = str(tmp_path / "ledger")
    res = ingest_feed(spark, stage, "GEO_WEIGHTS", target, ledger)
    assert res.rows_loaded == 2
    out = read_feed_table(spark, target, "GEO_WEIGHTS")
    assert dict(out.dtypes)["geo_weight"] == "double"
    assert {r["hh_id"] for r in out.collect()} == {"hh_1", "hh_2"}


def test_ingest_through_nonlocal_fs_scheme(spark, stage, tmp_path):
    """The reference's front half is an OBJECT-STORE stage
    (aws-s3-integration.sql:1-17); the sandbox has no live S3, but
    the engine's whole ingest path — stage listing, COPY-pattern
    discovery, load-ledger read/write, target write — must resolve
    the filesystem FROM THE PATH'S SCHEME (Hadoop FS API), never
    assume os.* locality. Run the full ingest through ``viewfs://``
    (Hadoop's client-side mount-table FS: a real non-``file:``
    scheme with its own FileSystem implementation and path
    resolution, the closest object-store stand-in that needs no
    server), so any hidden ``file:``/os.path assumption fails loudly.
    Swapping viewfs -> s3a is then configuration, not code."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.ingestcell.link./warehouse",
        (tmp_path / "vfs_root").as_uri(),
    )
    vbase = "viewfs://ingestcell/warehouse"
    vstage = f"{vbase}/stage"
    # land the stage THROUGH viewfs too (writer goes via the scheme)
    spark.createDataFrame(
        [("dev_1", 1000, 1100, 100, "t1", "ct_1"),
         ("dev_2", 2000, 2200, 200, "t2", "ct_2")],
        ["smba_id", "exposure_start_ts", "exposure_end_ts", "duration",
         "title", "content_id"],
    ).coalesce(1).write.parquet(f"{vstage}/STB/yyyy=2025/mm=06/dd=02")

    files = discover_feed(spark, vstage, "STB")
    assert files and all(f.startswith("viewfs://ingestcell/") for f in files)

    target, ledger = f"{vbase}/raw_stb", f"{vbase}/ledger"
    res = ingest_feed(spark, vstage, "STB", target, ledger)
    assert res.files_loaded == 1 and res.rows_loaded == 2
    # ledger idempotency holds across the non-local scheme
    again = ingest_feed(spark, vstage, "STB", target, ledger)
    assert again.files_loaded == 0 and again.rows_loaded == 0
    out = read_feed_table(spark, target, "STB")
    assert out.count() == 2
    assert {r["metadata_date"].isoformat() for r in out.collect()} == {
        "2025-06-02"
    }


def _stb_file(path, n, start, **extra):
    """One STB parquet file of ``n`` rows with ids from ``start``;
    ``extra`` adds columns (name -> pyarrow array)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {
        "smba_id": [f"dev_{start + k}" for k in range(n)],
        "exposure_start_ts": pa.array(range(start, start + n), pa.int64()),
        "exposure_end_ts": pa.array(range(start + 1, start + n + 1), pa.int64()),
        "duration": pa.array([1] * n, pa.int64()),
    }
    cols.update(extra)
    pq.write_table(pa.table(cols), path)


def test_ingest_drop_spanning_two_schemas_keeps_columns(spark, tmp_path):
    """A drop whose second file carries a column the first lacks
    (``zip``) keeps that file's values: the stage read merges the
    file schemas instead of inferring them from one file."""
    base = str(tmp_path / "stage")
    day = os.path.join(base, "STB/yyyy=2025/mm=06/dd=02")
    _stb_file(os.path.join(day, "part-00000.parquet"), 2, 0)
    _stb_file(
        os.path.join(day, "part-00001.parquet"), 2, 10, zip=["10001", "10002"]
    )
    target = str(tmp_path / "raw_stb")
    res = ingest_feed(spark, base, "STB", target, str(tmp_path / "ledger"))
    assert res.files_loaded == 2 and res.rows_loaded == 4
    got = {
        r["smba_id"]: r["zip"]
        for r in read_feed_table(spark, target, "STB").collect()
    }
    assert got == {
        "dev_0": None, "dev_1": None, "dev_10": "10001", "dev_11": "10002"
    }


def test_ingest_old_files_null_fill_new_columns(spark, tmp_path):
    """A feed table whose loads span schema versions reads as the
    declared schema: rows of the older load null-fill the column the
    newer load added, a column the declaration lacks is dropped, and
    the columns come in declared order."""
    import pyarrow as pa

    from samba_tv_ingest_etl_spark import schemas

    base = str(tmp_path / "stage")
    target, ledger = str(tmp_path / "raw_stb"), str(tmp_path / "ledger")
    _stb_file(os.path.join(base, "STB/yyyy=2025/mm=06/dd=02/p.parquet"), 2, 0)
    ingest_feed(spark, base, "STB", target, ledger)
    _stb_file(
        os.path.join(base, "STB/yyyy=2025/mm=06/dd=03/p.parquet"), 1, 10,
        zip=["10001"], debug=pa.array(["extra"]),
    )
    ingest_feed(spark, base, "STB", target, ledger)
    out = read_feed_table(spark, target, "STB")
    assert out.columns == schemas.STB.fieldNames()
    assert {r["smba_id"]: r["zip"] for r in out.collect()} == {
        "dev_0": None, "dev_1": None, "dev_10": "10001"
    }
    assert "debug" not in spark.read.parquet(target).columns


def test_ingest_widens_int_to_long(spark, tmp_path):
    """A file that stores a declared long column as int32 lands as
    long, values unchanged."""
    import pyarrow as pa

    base = str(tmp_path / "stage")
    day = os.path.join(base, "STB/yyyy=2025/mm=06/dd=02")
    _stb_file(
        os.path.join(day, "p.parquet"), 1, 0,
        duration=pa.array([5], pa.int32()),
    )
    target = str(tmp_path / "raw_stb")
    ingest_feed(spark, base, "STB", target, str(tmp_path / "ledger"))
    landed = spark.read.parquet(target)
    assert dict(landed.dtypes)["duration"] == "bigint"
    assert landed.collect()[0]["duration"] == 5


def test_ingest_drop_mixing_int_widths(spark, tmp_path):
    """One drop whose files store ``duration`` as int32 in one file
    and int64 in the other loads every row, as long: the drop's
    schema widens the column instead of failing to merge it."""
    import pyarrow as pa

    base = str(tmp_path / "stage")
    day = os.path.join(base, "STB/yyyy=2025/mm=06/dd=02")
    _stb_file(
        os.path.join(day, "part-00000.parquet"), 2, 0,
        duration=pa.array([5, 6], pa.int32()),
    )
    _stb_file(
        os.path.join(day, "part-00001.parquet"), 2, 10,
        duration=pa.array([2**40, 7], pa.int64()),
    )
    target = str(tmp_path / "raw_stb")
    res = ingest_feed(spark, base, "STB", target, str(tmp_path / "ledger"))
    assert res.files_loaded == 2 and res.rows_loaded == 4
    landed = spark.read.parquet(target)
    assert dict(landed.dtypes)["duration"] == "bigint"
    assert {r["smba_id"]: r["duration"] for r in landed.collect()} == {
        "dev_0": 5, "dev_1": 6, "dev_10": 2**40, "dev_11": 7
    }


def test_ledger_record_past_literal_cap(spark, tmp_path):
    """A record of more than a thousand files keeps exactly-once
    semantics: all files recorded, re-ingest sees them all."""
    from samba_tv_ingest_etl_spark.sources.ledger import LoadLedger

    ledger = LoadLedger(spark, str(tmp_path / "ledger"))
    files = [f"/stage/f{i:05d}.parquet" for i in range(1029)]
    ledger.record("FEED", files)
    assert ledger.seen("FEED") == set(files)
    assert ledger.new_files("FEED", files) == []


def test_concurrent_ingest_dag_loads_every_file_once(spark, tmp_path):
    """The ingest DAG loads its three feeds concurrently, and all
    three tasks append to ONE ledger directory. Over several drops of
    every feed, each staged file must land in the ledger exactly
    once, each raw table must hold exactly the staged rows, and a
    re-run with nothing new must load nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from samba_tv_ingest_etl_spark.sources.ingest import build_ingest_dag
    from samba_tv_ingest_etl_spark.sources.ledger import LoadLedger

    base = str(tmp_path / "stage")
    feeds = {"STB": "STB", "ACR": "ACR", "GEO_WEIGHTS": "Geo-Weights"}
    staged = {f: [] for f in feeds}
    rows = {f: 0 for f in feeds}

    def event_file(n, day, i):
        return pa.table({
            "smba_id": [f"dev_{day}_{i}_{k}" for k in range(n)],
            "exposure_start_ts": pa.array(range(n), pa.int64()),
            "exposure_end_ts": pa.array(range(10, n + 10), pa.int64()),
            "duration": pa.array([10] * n, pa.int64()),
            "title": ["t"] * n,
            "content_id": ["c"] * n,
        })

    def geo_file(n, day, i):
        return pa.table({
            "hh_id": [f"hh_{day}_{i}_{k}" for k in range(n)],
            "smba_id": [f"dev_{day}_{i}_{k}" for k in range(n)],
            "geo_weight": [1.0] * n,
        })

    warehouse = str(tmp_path / "raw")
    ledger_path = str(tmp_path / "ledger")
    dag = build_ingest_dag(spark, base, warehouse, ledger_path)
    for day in range(1, 4):
        drop = {f: 0 for f in feeds}
        for feed, sub in feeds.items():
            make = geo_file if feed == "GEO_WEIGHTS" else event_file
            d = os.path.join(base, sub, f"yyyy=2025/mm=06/dd={day:02d}")
            os.makedirs(d)
            for i in range(2):
                n = 3 + day + i
                p = os.path.join(d, f"part-{i:05d}.parquet")
                pq.write_table(make(n, day, i), p)
                staged[feed].append(p)
                drop[feed] += n
                rows[feed] += n
        res = dag.run()
        assert list(res) == ["stb_ingest", "acr_ingest", "geo_weights_ingest"]
        for feed in feeds:
            got = res[f"{feed.lower()}_ingest"]
            assert (got.files_loaded, got.rows_loaded) == (2, drop[feed])

    ledger = spark.read.parquet(ledger_path)
    for feed in feeds:
        got = [
            r["file_path"]
            for r in ledger.filter(F.col("feed") == feed).collect()
        ]
        assert len(got) == len(set(got)) == len(staged[feed])
        assert {p.split(":", 1)[-1] for p in got} == set(staged[feed])
        assert (
            read_feed_table(spark, os.path.join(warehouse, feed.lower()), feed)
            .count() == rows[feed]
        )
        assert LoadLedger(spark, ledger_path).seen(feed) == set(got)

    again = dag.run()
    assert all(
        r.files_loaded == 0 and r.rows_loaded == 0 for r in again.values()
    )
