"""Write layout: ``sized`` sets the file count from the data size, and
a fresh band index lands below the maintenance fragmentation gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_sized_write_follows_data_size_not_task_count(spark, tmp_path):
    """``sized``: a small checkpointed frame coalesces to ONE output
    file regardless of its upstream partition count (guide §6 — the
    small-file problem is a write-time decision); the row content is
    untouched, and an unknown-stats frame passes through unchanged."""
    from samba_tv_ingest_etl_spark.sources.writer import sized

    df = (
        spark.range(0, 10_000, 1, 32)
        .select(F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("h"))
        .localCheckpoint(eager=True)
    )
    out = str(tmp_path / "sized")
    sized(df).write.parquet(out)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 1, files
    assert spark.read.parquet(out).count() == 10_000

    # unknown-stats sentinel (driver-local relation defaults to
    # Long.MaxValue): sized() must be a harmless pass-through, not a
    # py4j long-overflow crash
    local = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert sized(local.localCheckpoint(eager=True)).count() == 1

    # scale-adaptive branch: with a target far below the frame's
    # estimate, the write keeps ceil(est/target) > 1 files (never
    # collapses a fleet-size index into one task)
    out2 = str(tmp_path / "sized_multi")
    est = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    sized(df, target_est_bytes=est // 4).write.parquet(out2)
    files2 = [f for f in os.listdir(out2) if f.endswith(".parquet")]
    assert 1 < len(files2) <= 32, files2
    assert spark.read.parquet(out2).count() == 10_000


def test_band_index_bootstrap_lands_compact(spark, tmp_path):
    """A fresh MinHash band index bootstraps BELOW the maintenance
    fragmentation gate: one data file per directory/hive partition,
    not one per shuffle partition — so the first nightly ``maintain``
    no longer full-rewrites a just-built index."""
    from samba_tv_ingest_etl_spark.operators import dedup as D
    from samba_tv_ingest_etl_spark.plans.maintenance import (
        index_fragmentation,
    )

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{i}_"), (F.col("id") % (i + 7)))
                for i in range(12)
            ],
        ).alias("text"),
    )
    path = str(tmp_path / "bidx")
    D.write_band_index(D.shingle_docs(docs), path)
    frag = index_fragmentation(spark, path, "minhash_band")
    for comp, scopes in frag.items():
        for scope, n in scopes.items():
            assert n == 1, (comp, scope, n)
