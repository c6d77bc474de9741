"""Streaming dedup + watermarked windows: duplicates across batches
collapse; finalized windows emit once; data later than the watermark
is dropped. Each stage file is drained by its own availableNow run —
the checkpoint carries state and watermark across runs, which pins
batch order deterministically (in-run file order follows listing
order, not write order). Parquet sink per the checkpoint-recovery
constraint (memory sink can't resume one)."""

from __future__ import annotations

from pyspark.sql import types as T

from samba_tv_ingest_etl_spark.streaming.dedup import (
    dedup_stream,
    windowed_counts,
)
from samba_tv_ingest_etl_spark.streaming.ingest import read_feed_stream

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos, like the driver
        T.StructField("user", T.StringType()),
    ]
)

_BASE = 1_700_000_000  # seconds


def _ns(sec_offset: int) -> int:
    return (_BASE + sec_offset) * 1_000_000_000


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain(spark, stage, out, ckpt, xform):
    q = (
        xform(read_feed_stream(spark, stage, SCHEMA))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


def test_dedup_across_batches(spark, tmp_path):
    stage, out, ckpt = (
        str(tmp_path / d) for d in ("stage", "out", "ckpt")
    )
    dd = lambda s: dedup_stream(  # noqa: E731
        s, ["event_id"], "ts", lateness="10 minutes"
    )
    _write(spark, [(1, _ns(0), "a"), (2, _ns(60), "b")], stage)
    _drain(spark, stage, out, ckpt, dd)
    # replayed id=1 in a later file: dropped by streaming state
    _write(spark, [(1, _ns(0), "a"), (3, _ns(120), "c")], stage)
    got = _drain(spark, stage, out, ckpt, dd)
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2, 3]


def test_windowed_counts_finalize_and_drop_late(spark, tmp_path):
    stage, out, ckpt = (
        str(tmp_path / d) for d in ("stage", "out", "ckpt")
    )
    wc = lambda s: windowed_counts(  # noqa: E731
        s, "ts", "1 minute", lateness="1 minute"
    )
    # batch 1: two events inside one 1-minute window (aligned: epoch
    # windows start on minute boundaries, and _BASE % 60 == 20)
    w1 = 40  # window [_BASE+40, _BASE+100)
    _write(
        spark, [(1, _ns(w1 + 5), "a"), (2, _ns(w1 + 50), "b")], stage
    )
    _drain(spark, stage, out, ckpt, wc)
    # batch 2: far-future event -> watermark passes window 1 + lateness
    _write(spark, [(3, _ns(3600), "c")], stage)
    _drain(spark, stage, out, ckpt, wc)
    # batch 3: older than the watermark -> must be dropped
    _write(spark, [(4, _ns(w1 + 10), "d")], stage)
    got = _drain(spark, stage, out, ckpt, wc).collect()

    by_start = {
        r["window_start"].timestamp(): r["n_events"] for r in got
    }
    # window 1 finalized with exactly the 2 on-time events; the late
    # event neither re-emits the window nor creates a new one
    w1_start = float(_BASE + w1)
    assert by_start.get(w1_start) == 2, by_start
    assert len([s for s in by_start if s == w1_start]) == 1


def test_dedup_stream_rocksdb_state_store(spark, tmp_path):
    """The 100 TB streaming path keeps state off-heap in RocksDB
    (changelog-checkpointed on real clusters). Same dedup semantics,
    different provider — results must be identical to the default
    HDFS-backed store."""
    import os

    from pyspark.sql import functions as F

    from samba_tv_ingest_etl_spark.streaming.dedup import dedup_stream
    from samba_tv_ingest_etl_spark.streaming.ingest import read_feed_stream

    rows = [(i, 1_700_000_000_000_000_000 + i * 10**9) for i in range(50)]
    ev = spark.createDataFrame(rows, ["event_id", "ts"])
    stage = str(tmp_path / "stage")
    ev.coalesce(1).write.parquet(stage)
    ev.filter(F.col("event_id") % 5 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(stage)  # replayed rows

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = str(tmp_path / "out")
        stream = read_feed_stream(spark, stage, ev.schema)
        deduped = dedup_stream(
            stream, keys=["event_id"], ts_col="ts", lateness="1 hour"
        )
        (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        ).awaitTermination()
        got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
        assert got == list(range(50))
        # the state store actually used RocksDB (sst/log files on disk)
        ckpt_state = os.path.join(str(tmp_path / "ckpt"), "state")
        assert os.path.isdir(ckpt_state)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


# ---------------------------------------------------------------
# streaming MinHash dedup against the persisted band index


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_IDX_DOCS = [
    (1, "a b c d e f g h"),
    (2, "p q r s t u v w"),
]
_B1 = [
    (101, "a b c d e f g h"),   # verbatim copy of index doc 1 -> drop
    (102, "m n o k l j h g f"),  # unique -> survives
]
_B2 = [
    (103, "m n o k l j h g f"),  # copy of batch-1 survivor -> drop
    (104, "zz"),                 # < ngram tokens: empty set, survives
    (105, "q w e r t y u i o"),  # unique -> survives
]


def _start_index(spark, tmp_path):
    from samba_tv_ingest_etl_spark.operators import dedup as D

    idx = str(tmp_path / "band_index")
    D.write_band_index(
        D.shingle_docs(
            spark.createDataFrame(_IDX_DOCS, DOC_SCHEMA), ngram=3
        ),
        idx,
    )
    return idx


def test_streaming_dedup_against_index(spark, tmp_path):
    """Two micro-batches drained through the foreachBatch handler:
    cross-index dups drop, cross-batch dups drop (the index grew
    between drains), short docs survive unconditionally, and the
    survivor feed carries full rows."""
    from samba_tv_ingest_etl_spark.streaming.dedup import (
        dedup_stream_against_index,
    )

    idx = _start_index(spark, tmp_path)
    stage, out, ckpt = (
        str(tmp_path / d) for d in ("stage", "out", "ckpt")
    )

    def drain():
        q = dedup_stream_against_index(
            read_feed_stream(spark, stage, DOC_SCHEMA),
            idx,
            out,
            ckpt,
        )
        q.awaitTermination()

    spark.createDataFrame(_B1, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    drain()
    spark.createDataFrame(_B2, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    drain()

    got = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in got.collect()) == [102, 104, 105]
    # full rows, not just ids
    texts = {r["doc_id"]: r["text"] for r in got.collect()}
    assert texts[102] == "m n o k l j h g f"


def test_streaming_dedup_replay_is_idempotent(spark, tmp_path):
    """At-least-once hardening, both crash windows: (a) replay AFTER
    output commit is skipped outright; (b) replay after the index
    append but BEFORE output commit re-runs bit-identically — the
    replay-safe increment excludes the batch's own ids from the
    index side, so the already-appended batch cannot self-match."""
    from samba_tv_ingest_etl_spark.operators import dedup as D
    from samba_tv_ingest_etl_spark.streaming.dedup import (
        DedupAgainstIndexBatch,
    )

    idx = _start_index(spark, tmp_path)
    out = str(tmp_path / "out")
    handler = DedupAgainstIndexBatch(idx, out)
    batch = spark.createDataFrame(_B1, DOC_SCHEMA)

    # (b) crash-window replay: increment ran (index appended), output
    # never committed -> handler re-runs the full increment
    sh = D.shingle_docs(batch, ngram=3)
    first = sorted(
        r["doc_id"]
        for r in D.dedup_increment_against_index(sh, idx).collect()
    )
    handler(batch, 0)  # replay: batch docs are already in the index
    got = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in got.collect()) == first == [102]

    # (a) committed replay: a second call with the same batch_id is a
    # no-op — same rows, no duplicate output
    handler(batch, 0)
    again = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in again.collect()) == [102]
