"""Streaming dedup + watermarked window aggregation.

The batch engine dedups replayed events with a plain hash-groupBy
(``operators/dedup.py``); a streaming ingest needs the same guarantee
without unbounded state. Two standard pieces:

- ``dedup_stream``: row-level exactly-once within a lateness bound via
  ``dropDuplicatesWithinWatermark`` — state holds only keys younger
  than the watermark, so memory is O(arrival rate x lateness), not
  O(history). This is the streaming twin of the load-ledger's
  file-level idempotency (``sources/ledger.py``): the ledger stops
  whole-file replays, this stops row replays inside late/overlapping
  files.

- ``windowed_counts``: event-time tumbling/sliding aggregation with a
  watermark, append-mode-compatible (windows emit once finalized —
  exactly the reference's daily-rollup semantics, SURVEY §2.5, at
  arbitrary grain).

Scale: state store size is the product of key cardinality inside the
lateness horizon; RocksDB state store + changelog checkpointing keeps
it off-heap on real clusters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dedup_stream",
    "windowed_counts",
    "DedupAgainstIndexBatch",
    "dedup_stream_against_index",
]


def _event_time(df: DataFrame, ts_col: str) -> tuple[DataFrame, str]:
    """Normalize the event-time column to a real ``_event_time``
    timestamp regardless of the physical encoding — nanos-since-epoch
    bigint (TIMESTAMP(NANOS) parquet under nanosAsLong) or a native
    timestamp/timestamp_ntz (microsecond parquet). Always emitting
    the same column name keeps downstream stateful chains (dedup ->
    windowed agg, join output prefixes) schema-stable across data
    encodings; NTZ casts to session-zone timestamp under the engine's
    pinned-UTC conf, so window arithmetic is unchanged."""
    if ts_col == "_event_time":
        return df, ts_col
    if dict(df.dtypes).get(ts_col) == "bigint":
        col = F.timestamp_micros(F.expr(f"{ts_col} DIV 1000"))
    else:
        col = F.col(ts_col).cast("timestamp")
    return df.withColumn("_event_time", col), "_event_time"


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    lateness: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate rows (same ``keys``) arriving within the
    ``lateness`` horizon of each other. Unlike ``dropDuplicates``,
    state for a key is evicted once the watermark passes it, so the
    operator runs forever at bounded memory; duplicates farther apart
    than ``lateness`` are the load-ledger's job (file granularity)."""
    df, et = _event_time(stream, ts_col)
    return df.withWatermark(et, lateness).dropDuplicatesWithinWatermark(
        keys
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str] | None = None,
    lateness: str | None = "10 minutes",
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Event-time tumbling-window aggregation with late-data handling:
    rows later than ``lateness`` are dropped, and in append output
    mode a window emits exactly once, when the watermark passes its
    end. Default aggregate is ``n_events``; pass ``aggs`` (alias ->
    summable expression) for more.

    ``lateness=None`` declares NO watermark here — required when an
    upstream stateful operator (e.g. ``dedup_stream``) already set
    one: Spark disallows redefining the watermark mid-chain, and the
    upstream declaration propagates through."""
    df, et = _event_time(stream, ts_col)
    aggs = aggs or {}
    exprs = [F.count(F.lit(1)).cast("long").alias("n_events")] + [
        e.alias(a) for a, e in aggs.items()
    ]
    if lateness is not None:
        df = df.withWatermark(et, lateness)
    return (
        df
        .groupBy(F.window(et, window), *(keys or []))
        .agg(*exprs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(keys or []),
            "n_events",
            *aggs.keys(),
        )
    )


class DedupAgainstIndexBatch:
    """``foreachBatch`` handler: MinHash-dedup each micro-batch of
    documents against the PERSISTED band index, append the batch to
    the index, and write surviving rows exactly-once — a streaming
    driver of the one batch-vs-index increment (``operators/dedup.
    dedup_increment_against_index``), which is itself the
    reference's watermark-driven touch-only-new-rows shape
    (etl-dag.sql:33-46) applied to dedup.

    Per batch: skip entirely if the output ledger already has
    ``(app_id, batch_id)`` (a fully-committed replay); otherwise
    shingle the batch, dedup it through the increment with
    ``append=True`` — it is replay-safe (the index side excludes the
    batch's own ids, so a crash between index append and output
    commit replays bit-identically) and appends the batch to the
    index (every seen doc, survivors AND dropped: the min-id shadow
    rule) — and write the surviving document rows through the
    batch-id-partitioned exactly-once sink.

    Scale: per-batch work is O(|batch|) signing + one scan of
    ``bands/`` filtered by the batch's band-key hashes + one scan of
    ``docs/`` pruned to the candidate ids — the index is never
    re-signed and never shuffles, so a
    long-running stream's per-batch cost is flat in index size
    (measured in SCALING_r10.md for the batch path this wraps).
    State lives in the index files + the sink ledger, NOT the
    streaming state store — restarts are free and the stream can be
    driven by availableNow crons like the batch DAG."""

    def __init__(
        self,
        index_path: str,
        out_path: str,
        app_id: str = "minhash-dedup",
        ngram: int = 3,
        num_perm: int | None = None,
        bands: int | None = None,
        threshold_pct: int = 50,
    ):
        from ..operators import dedup as D
        from .sink import ExactlyOnceForeachBatch

        self.index_path = index_path
        self.ngram = ngram
        self.num_perm = num_perm if num_perm is not None else D.MINHASH_PERMS
        self.bands = bands if bands is not None else D.MINHASH_BANDS
        self.threshold_pct = threshold_pct
        self._sink = ExactlyOnceForeachBatch(out_path, app_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators import dedup as D

        spark = batch_df.sparkSession
        if self._sink.seen(spark, batch_id):
            return  # durably committed: no re-dedup, no re-append
        batch_df = batch_df.localCheckpoint(eager=True)
        shingled = D.shingle_docs(
            batch_df.select("doc_id", "text"), ngram=self.ngram
        )
        survivors = D.dedup_increment_against_index(
            shingled,
            self.index_path,
            num_perm=self.num_perm,
            bands=self.bands,
            threshold_pct=self.threshold_pct,
            append=True,
        )
        # full surviving rows (all batch columns), not just ids — the
        # sink output is the deduped feed downstream jobs read. The
        # survivors are driver-held, so the ids filter as literals
        ids = [r["doc_id"] for r in survivors.collect()]
        self._sink(batch_df.filter(D.ints_in("doc_id", ids)), batch_id)


def dedup_stream_against_index(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    app_id: str = "minhash-dedup",
    ngram: int = 3,
    num_perm: int | None = None,
    bands: int | None = None,
    threshold_pct: int = 50,
):
    """Start the streaming dedup: ``stream`` (doc_id, text, ...) →
    ``DedupAgainstIndexBatch`` → exactly-once survivor feed at
    ``out_path``, index growing at ``index_path``. AvailableNow
    trigger — drain everything pending, then stop — so it runs from
    the same cron entry point as the batch DAG (``ingest_once``'s
    operating model); re-trigger with the same checkpoint to pick up
    only new files. The index must exist (``write_band_index``,
    possibly over an empty corpus) before the first batch."""
    handler = DedupAgainstIndexBatch(
        index_path,
        out_path,
        app_id=app_id,
        ngram=ngram,
        num_perm=num_perm,
        bands=bands,
        threshold_pct=threshold_pct,
    )
    return (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
