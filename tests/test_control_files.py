"""Driver-side control files (``sources/control.py``) and the load
ledger built on them: byte-exact round trips through a non-local
filesystem scheme, the formats Spark reads back, the ledger's bound on
its entry files under concurrent records, and a fold racing a
record."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark import schemas
from samba_tv_ingest_etl_spark.plans.backfill import (
    Warehouse,
    read_watermarks,
    write_task_control,
)
from samba_tv_ingest_etl_spark.sources import control
from samba_tv_ingest_etl_spark.sources import ledger as ledger_mod
from samba_tv_ingest_etl_spark.sources.ledger import MAX_ENTRY_FILES, LoadLedger


def _viewfs(spark, tmp_path, cell):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        f"fs.viewfs.mounttable.{cell}.link./warehouse",
        (tmp_path / "vfs_root").as_uri(),
    )
    return f"viewfs://{cell}/warehouse"


def test_round_trip_through_nonlocal_fs_scheme(spark, tmp_path):
    """Bytes and a parquet control table written and read back
    through ``viewfs://`` (a real non-``file:`` Hadoop
    FileSystem): the layer resolves the filesystem from the path and
    never assumes locality. The payload is larger than any single
    stream buffer, and publishing leaves no visible temporary file."""
    base = _viewfs(spark, tmp_path, "controlcell")
    payload = os.urandom(96 * 1024)
    control.write_bytes(spark, f"{base}/blobs/payload.bin", payload)
    assert control.read_bytes(spark, f"{base}/blobs/payload.bin") == payload
    # rewriting replaces the file whole
    control.write_bytes(spark, f"{base}/blobs/payload.bin", payload[::-1])
    assert (
        control.read_bytes(spark, f"{base}/blobs/payload.bin")
        == payload[::-1]
    )
    assert [
        p.rsplit("/", 1)[-1]
        for p in control.list_files(spark, f"{base}/blobs")
    ] == ["payload.bin"]
    assert sorted(os.listdir(tmp_path / "vfs_root" / "blobs")) == [
        ".payload.bin.crc", "payload.bin",
    ]

    led = LoadLedger(spark, f"{base}/ledger")
    files = [f"s3a://bucket/stage/{i:06d}.parquet" for i in range(3000)]
    led.record("ACR", files)
    assert led.seen("ACR") == set(files)
    assert spark.read.schema(schemas.LOAD_LEDGER).parquet(
        f"{base}/ledger"
    ).count() == len(files)


def test_control_tables_keep_spark_formats(spark, tmp_path):
    """Files the driver writes read back through Spark with the
    declared schemas, and the driver reads files Spark wrote (INT96
    timestamps included) — so ledgers a Spark job wrote keep working."""
    path = str(tmp_path / "ledger")
    (
        spark.createDataFrame([("/old/a",), ("/old/b",)], "file_path string")
        .withColumn("feed", F.lit("STB"))
        .withColumn("loaded_at", F.current_timestamp())
        .coalesce(1)
        .write.parquet(path)
    )
    led = LoadLedger(spark, path)
    led.record("STB", ["/new/c"])
    assert led.seen("STB") == {"/old/a", "/old/b", "/new/c"}
    back = spark.read.parquet(path)
    assert back.schema == schemas.LOAD_LEDGER
    assert {r["file_path"] for r in back.collect()} == {
        "/old/a", "/old/b", "/new/c",
    }
    assert back.filter(F.col("loaded_at").isNull()).count() == 0

    day = dt.date(2025, 6, 2)
    tc = str(tmp_path / "task_control")
    control.overwrite_table(
        spark, tc,
        pa.table(
            [["a", "b"], [day, day]],
            schema=pa.schema([
                ("task_name", pa.string()),
                ("last_successful_run_date", pa.date32()),
            ]),
        ),
    )
    rows = spark.read.schema(schemas.TASK_CONTROL).parquet(tc).collect()
    assert sorted((r[0], r[1]) for r in rows) == [("a", day), ("b", day)]
    assert not os.path.exists(tc + "__tmp__")


def test_ledger_stays_bounded_under_concurrent_records(spark, tmp_path):
    """40 records from 3 threads, each followed by a lookup: at most
    ``MAX_ENTRY_FILES`` entry files stay visible, a record is seen as
    soon as it returns (a lookup racing a fold neither fails nor
    misses it), and no file is recorded twice (a lost or doubled fold
    would show in the Spark read)."""
    path = str(tmp_path / "ledger")
    led = LoadLedger(spark, path)
    batches = [
        (f"F{i % 2}", [f"/stage/{i:02d}/{k}.parquet" for k in range(i % 3 + 1)])
        for i in range(40)
    ]

    def record_then_look(feed, files):
        led.record(feed, files)
        return set(files) <= led.seen(feed)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [pool.submit(record_then_look, f, fl) for f, fl in batches]
            assert all(fut.result(timeout=120) for fut in futs)
    finally:
        sys.setswitchinterval(old)
    assert len(control.list_files(spark, path)) <= MAX_ENTRY_FILES
    for feed in ("F0", "F1"):
        want = [p for f, fl in batches if f == feed for p in fl]
        assert led.seen(feed) == set(want)
        got = [
            r["file_path"]
            for r in spark.read.parquet(path)
            .filter(F.col("feed") == feed)
            .collect()
        ]
        assert sorted(got) == sorted(want)


def test_fold_racing_a_record_loses_nothing(spark, tmp_path, monkeypatch):
    """An entry published while a fold runs is not among the files the
    fold read, so the fold must leave it in place."""
    path = str(tmp_path / "ledger")
    led = LoadLedger(spark, path)
    for i in range(MAX_ENTRY_FILES):
        led.record("F", [f"/f{i}"])
    assert len(control.list_files(spark, path)) == MAX_ENTRY_FILES

    orig = control.read_files
    raced = threading.Event()

    def read_files_racing(spark_, files, schema):
        if len(files) > MAX_ENTRY_FILES and not raced.is_set():
            # another task's entry lands between the fold's listing
            # and its deletes
            control.write_table(
                spark_, f"{path}/late.parquet",
                LoadLedger.entry("F", ["/late"]),
            )
            raced.set()
        return orig(spark_, files, schema)

    monkeypatch.setattr(ledger_mod.control, "read_files", read_files_racing)
    led.record("F", [f"/f{MAX_ENTRY_FILES}"])
    monkeypatch.undo()
    assert raced.is_set()
    names = [p.rsplit("/", 1)[-1] for p in control.list_files(spark, path)]
    assert len(names) == 2 and "late.parquet" in names
    assert led.seen("F") == {
        f"/f{i}" for i in range(MAX_ENTRY_FILES + 1)
    } | {"/late"}


def test_lookup_racing_a_fold_sees_every_entry(spark, tmp_path, monkeypatch):
    """A lookup that lists the entry files just before a fold deletes
    them must not then read deleted files: lookups wait for a running
    fold."""
    path = str(tmp_path / "ledger")
    led = LoadLedger(spark, path)
    for i in range(MAX_ENTRY_FILES):
        led.record("F", [f"/f{i}"])
    orig = control.read_files
    folded = threading.Event()
    got = []

    def look():
        try:
            got.append(led.seen("F"))
        except Exception as e:  # reported by the assert below
            got.append(e)

    reader = threading.Thread(target=look)

    def read_files_racing(spark_, files, schema):
        if threading.current_thread() is reader:
            folded.wait(timeout=30)  # read only after the fold's deletes
        elif len(files) > MAX_ENTRY_FILES and not reader.is_alive():
            reader.start()
            reader.join(timeout=0.5)  # let the lookup list the files
        return orig(spark_, files, schema)

    monkeypatch.setattr(ledger_mod.control, "read_files", read_files_racing)
    led.record("F", [f"/f{MAX_ENTRY_FILES}"])
    folded.set()
    reader.join(timeout=60)
    monkeypatch.undo()
    assert not reader.is_alive()
    assert got == [{f"/f{i}" for i in range(MAX_ENTRY_FILES + 1)}]


def test_crashed_task_control_swap_keeps_watermarks(spark, tmp_path):
    """``task_control`` left between the two renames of its swap: the
    table moved to ``__old__`` and the new rows staged complete at
    ``__tmp__``. ``read_watermarks`` finishes the swap and returns the
    staged dates, where reading the missing table as empty would send
    every task back to the epoch."""
    old = [("raw_events_update", dt.date(2025, 5, 10)),
           ("panel_windows_update", dt.date(2025, 6, 2))]
    new = [("raw_events_update", dt.date(2025, 5, 20)),
           ("panel_windows_update", dt.date(2025, 6, 9))]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    staged = Warehouse(spark, str(tmp_path / "staged"))
    write_task_control(wh, old)
    write_task_control(staged, new)
    path = wh.path("task_control")
    os.rename(path, path + "__old__")
    shutil.copytree(staged.path("task_control"), path + "__tmp__")

    assert read_watermarks(wh) == dict(new)
    assert sorted(os.listdir(tmp_path / "wh")) == ["task_control"]
