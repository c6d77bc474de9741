"""Incremental curation DAG — the LLM-data operators wired through
the task-graph machinery (``plans/dag.TaskDag``) in the reference's
incremental shape (etl-dag.sql:1-46: scheduled root, AFTER edges,
watermark-driven touch-only-new-rows):

    curation_ingest        COPY-INTO discipline: newly staged
                           document files, exactly-once via the load
                           ledger (sources/ledger.py)
      └─ curation_dedup    MinHash dedup of the batch against the
                           PERSISTED band index, replay-safe, batch
                           appended to the index (q129/q132 machinery)
          └─ curation_decontaminate
                           span-grain eval excision + quality gate
                           (q127/q131 machinery)
              └─ curation_append
                           land curated rows (idempotent: dynamic
                           overwrite of the run's own partition),
                           THEN commit the file ledger — the
                           watermark write is last, as in the
                           reference (etl-dag.sql:147-156)

q131 proved the stage composition as one lazy plan and q132 proved
streaming dedup against the index; this composes the same operators
under AFTER edges with file-grain watermarking (r10 verdict #3). The
pipeline-grain property — N daily increments ≡ one wholesale curation
pass — holds for ID-MONOTONE batches processed ascending (the q132
condition: the index side dominates at any id, so ascending order
makes "indexed" ≡ "smaller id" and the accumulated output equals the
wholesale pairwise min-id rule); it is pinned Spark-vs-Spark by
``tests/test_curation_dag.py`` and against DuckDB by q137's oracle,
which computes the WHOLESALE pass in SQL.

Exactly-once, end to end: a crash ANYWHERE before the final ledger
commit replays the whole day — the ingest re-lists the unrecorded
files, the dedup increment (``dedup.dedup_increment_against_index``,
the one batch-vs-index MinHash entry point) is replay-safe (the
index side anti-joins the batch's own ids, and the re-append's
duplicate rows are result-neutral by the band index contract),
decontamination is deterministic per doc, and the curated write
dynamically overwrites the run's own partition (run_id = hash of
the file set) instead of appending blind. A replay whose file set
DRIFTED (new files staged after the crash) lands under a different
run_id; the run manifest makes that safe too (r11 advice): curated()
shows only manifest-recorded runs, and the crashed attempt's
partition — never recorded, or recorded but fully superseded by the
wider replay — is garbage-collected before the replay commits (see
``_gc_superseded_runs``). Every store is written under the manifest,
so a curated partition with no manifest row can only be a crashed
attempt, and a pass with nothing newly staged launches no job in
its landing task. The global
token-budget head (q111/q131's final stage) is deliberately NOT in
the DAG: it is a global selection over the curated pool, re-run
wholesale over ``curated/`` when a training mix is cut — an
incremental top-k-by-score would need retraction semantics no
append-only pipeline has.

Scale shape: per-day work is O(|batch|) signing + batch-broadcast
band join + streamed verify probe (the measured flat increment law,
SCALING_r10) + per-doc excision of the batch only; the standing
corpus is touched ONLY through the at-rest index. The eval set is
benchmark-sized by the enforced broadcast budget
(dedup.EVAL_GRAM_BUDGET).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.text import tokens
from .dag import TaskDag

__all__ = ["CurationDag", "CURATION_CRON"]

# the reference's ETL root schedule, verbatim (etl-dag.sql:3)
CURATION_CRON = "0 5 * * * UTC"

_STAGE_PATTERN = r".*\.parquet$"
_FEED = "curation_docs"


class CurationDag:
    """One curation pipeline rooted at ``root``::

        root/stage/       daily parquet drops of (doc_id, text)
        root/band_index/  persisted MinHash band index (docs/+bands/)
        root/ledger/      load ledger (file-grain watermark)
        root/curated/     run_id=<h>/ (doc_id, n_tokens, n_kept)
        root/runs/        run manifest (run_id, file_path) — the
                          committed-run record curated() filters by

    ``eval_toks``: (doc_id, toks) token frame of the eval suite —
    fixed and benchmark-sized by the decontamination contract."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        eval_toks: DataFrame,
        ngram: int = 3,
        threshold_pct: int = 50,
        span_k: int = 8,
        min_kept: int = 20,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.index_path = f"{self.root}/band_index"
        self.stage_path = f"{self.root}/stage"
        self.ledger_path = f"{self.root}/ledger"
        self.curated_path = f"{self.root}/curated"
        self.runs_path = f"{self.root}/runs"
        # bounded by the decon broadcast budget; read every run
        self.eval_toks = eval_toks.localCheckpoint(eager=True)
        self.ngram = ngram
        self.threshold_pct = threshold_pct
        self.span_k = span_k
        self.min_kept = min_kept

    # -- setup ---------------------------------------------------------

    def _fs(self):
        sc = self.spark.sparkContext
        jroot = sc._jvm.org.apache.hadoop.fs.Path(self.root)
        return (
            jroot.getFileSystem(sc._jsc.hadoopConfiguration()),
            sc._jvm.org.apache.hadoop.fs.Path,
        )

    def _index_exists(self) -> bool:
        """True only when BOTH index halves exist: write_band_index
        lands docs/ then bands/ as two separate atomic overwrites, so
        a crash between them must route the replay back to the
        BOOTSTRAP branch (whose overwrites are idempotent) — gating
        on docs/ alone sent that replay to the steady-state branch,
        whose read of the missing bands/ fails permanently (r11
        advice: a manual-cleanup crash loop)."""
        fs, jpath = self._fs()
        return bool(
            fs.exists(jpath(self.index_path + "/docs"))
            and fs.exists(jpath(self.index_path + "/bands"))
        )

    # -- tasks ---------------------------------------------------------

    def _task_ingest(self, state: dict) -> int:
        from ..sources.ledger import LoadLedger
        from ..sources.stage import list_stage_files

        ledger = LoadLedger(self.spark, self.ledger_path)
        discovered = list_stage_files(
            self.spark, self.stage_path, _STAGE_PATTERN
        )
        new = ledger.new_files(_FEED, discovered)
        state["files"] = new
        if not new:
            state["batch"] = None
            return 0
        # run identity = the file set, so a crashed run's replay
        # lands on the SAME curated partition (idempotent overwrite)
        state["run_id"] = hashlib.sha256(
            "\n".join(sorted(new)).encode()
        ).hexdigest()[:16]
        batch = (
            self.spark.read.parquet(*new)
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        state["batch"] = batch
        return batch.count()

    def _task_dedup(self, state: dict) -> int:
        if state.get("batch") is None:
            state["survivor_docs"] = None
            return 0
        batch = state["batch"]
        shingled = D.shingle_docs(batch, ngram=self.ngram)
        # Bootstrap: the FIRST batch becomes the index (parquet can't
        # persist a zero-row partitioned frame's schema, so there is
        # no "empty index" on disk), and the replay-safe increment
        # then runs against it — its anti-join of the batch's own ids
        # makes the index side effectively empty, so survivors reduce
        # to the batch-internal smaller-id rule: ONE code path for
        # bootstrap, steady state, and crash replay (a crash after
        # the bootstrap write lands in the steady-state branch, whose
        # anti-join + result-neutral re-append reproduce the same
        # survivors bit-for-bit).
        bootstrap = not self._index_exists()
        if bootstrap:
            D.write_band_index(shingled, self.index_path)
        survivors = D.dedup_increment_against_index(
            shingled,
            self.index_path,
            threshold_pct=self.threshold_pct,
            append=not bootstrap,
        )
        state["survivor_docs"] = batch.join(
            F.broadcast(survivors.select("doc_id")), "doc_id",
            "left_semi",
        ).localCheckpoint(eager=True)
        return state["survivor_docs"].count()

    def _task_decontaminate(self, state: dict) -> int:
        if state.get("survivor_docs") is None:
            state["gated"] = None
            return 0
        t = state["survivor_docs"].select(
            "doc_id", tokens(F.col("text")).alias("toks")
        )
        out = D.excise_contaminated_spans(
            t, self.eval_toks, k=self.span_k
        )
        state["gated"] = out.filter(
            (F.col("n_kept") * 2 >= F.col("n_tokens"))
            & (F.col("n_kept") >= self.min_kept)
        ).select("doc_id", "n_tokens", "n_kept")
        return 0  # lazy by design: the append is the action

    def _task_append(self, state: dict) -> int:
        from ..sources.ledger import LoadLedger

        if state.get("gated") is None:
            return 0
        self._write_curated(state["gated"], state["run_id"])
        self._gc_superseded_runs(state["run_id"], state["files"])
        self._record_run(state["run_id"], state["files"])
        # watermark LAST: only a fully-landed run marks its files
        # loaded; any earlier crash replays the whole day
        LoadLedger(self.spark, self.ledger_path).record(
            _FEED, state["files"]
        )
        return 1

    # -- run manifest: exactly-once across DRIFTING replays ------------
    #
    # run_id = hash of the ingested file SET, so a replay that picks
    # up files staged AFTER the crash lands under a DIFFERENT run_id
    # and the crashed attempt's partition would otherwise survive as
    # an orphan, double-counting its docs (r11 advice). The manifest
    # (runs/: one (run_id, file_path) row per ingested file, written
    # AFTER the curated landing and BEFORE the file ledger) makes
    # committed-ness observable:
    #   * a curated partition NOT in the manifest is a crashed
    #     attempt that never reached the manifest write — invisible
    #     to curated() (left-semi on manifest run_ids) and deleted by
    #     the next pass's GC;
    #   * a manifest run whose files are ALL ledger-unrecorded and
    #     OVERLAP the current pass's ingest set is a crashed attempt
    #     (by the write order, a run with NO ledgered file never
    #     committed) that the current run supersedes — its partition
    #     is deleted before the manifest records the current run, so
    #     at any instant at most ONE manifest-visible partition holds
    #     a given doc (no read-side dedup pass needed). Overlap, not
    #     subset (r12 advice): if some of the crashed attempt's
    #     staged files disappeared before the replay, the narrower
    #     replay still supersedes it — a subset test would strand the
    #     orphan manifest-visible while the replay re-lands its
    #     surviving files' docs (a double count). A zero-overlap
    #     unledgered run (ALL its files vanished) stays visible —
    #     its docs exist nowhere else, so nothing double-counts —
    #     and self-heals if the files ever reappear in the stage:
    #     they are still unledgered, so the pass that re-ingests
    #     them overlaps and supersedes it then;
    #   * a fully-ledgered run's files can never ALL be unrecorded,
    #     so GC can never touch committed data.
    # Single-writer assumption as documented on the dedup stage.

    def _record_run(self, run_id: str, files: list[str]) -> None:
        from ..sources.ledger import literal_strings_frame

        (
            literal_strings_frame(self.spark, files, "file_path")
            .select(F.lit(run_id).alias("run_id"), "file_path")
            .coalesce(1)
            .write.mode("append")
            .parquet(self.runs_path)
        )

    _RUNS_SCHEMA = "run_id string, file_path string"

    def _manifest(self) -> DataFrame | None:
        fs, jpath = self._fs()
        if not fs.exists(jpath(self.runs_path)):
            return None
        # explicit schema: a crashed append can leave runs/ with no
        # committed data files, which schema inference cannot read
        return self.spark.read.schema(self._RUNS_SCHEMA).parquet(
            self.runs_path
        )

    def _gc_superseded_runs(
        self, current_run_id: str, current_files: list[str]
    ) -> list[str]:
        """Delete curated partitions of crashed attempts the current
        run supersedes. Returns the removed run_ids."""
        from ..sources.ledger import LoadLedger

        fs, jpath = self._fs()
        if not fs.exists(jpath(self.curated_path)):
            return []
        manifest: dict[str, set[str]] = {}
        mdf = self._manifest()
        if mdf is not None:
            for r in mdf.collect():
                manifest.setdefault(r["run_id"], set()).add(
                    r["file_path"]
                )
        ledgered = LoadLedger(self.spark, self.ledger_path).seen(_FEED)
        cur = set(current_files)
        removed = []
        for status in fs.listStatus(jpath(self.curated_path)):
            name = status.getPath().getName()
            if not name.startswith("run_id="):
                continue
            rid = name.removeprefix("run_id=")
            if rid == current_run_id:
                continue
            fr = manifest.get(rid)
            # fr is None: unmanifested = crashed before its manifest
            # record. Otherwise: fully-unledgered (never committed) AND
            # overlapping the current ingest set (the replay re-lands
            # at least one of its files' docs) — overlap, not subset,
            # so staged files vanishing between crash and replay
            # cannot strand a double-counting orphan (r12 advice).
            superseded = fr is None or (
                not (fr & ledgered) and bool(fr & cur)
            )
            if superseded:
                if not fs.delete(status.getPath(), True):
                    raise RuntimeError(
                        f"curation GC: failed to delete superseded "
                        f"partition {name} under {self.curated_path}"
                    )
                removed.append(rid)
        return sorted(removed)

    def _write_curated(self, gated: DataFrame, run_id: str) -> None:
        """Idempotent landing: dynamic partition overwrite replaces
        ONLY this run's partition, so a replayed append after a crash
        rewrites the same rows instead of duplicating them. The mode is
        a per-write option, so the session conf stays untouched."""
        (
            gated.withColumn("run_id", F.lit(run_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
            .parquet(self.curated_path)
        )

    # -- surface -------------------------------------------------------

    def build_dag(self, state: dict | None = None) -> TaskDag:
        """The task graph for ONE daily pass — reference shape:
        scheduled root, suspended-aware AFTER chain."""
        state = {} if state is None else state
        dag = TaskDag()
        dag.add(
            "curation_ingest",
            lambda: self._task_ingest(state),
            schedule=CURATION_CRON,
        )
        dag.add(
            "curation_dedup",
            lambda: self._task_dedup(state),
            after=["curation_ingest"],
        )
        dag.add(
            "curation_decontaminate",
            lambda: self._task_decontaminate(state),
            after=["curation_dedup"],
        )
        dag.add(
            "curation_append",
            lambda: self._task_append(state),
            after=["curation_decontaminate"],
        )
        return dag

    def run_once(self) -> dict[str, object]:
        """One DAG pass over whatever is newly staged (availableNow
        semantics at task grain); a pass with nothing new is a no-op
        end to end."""
        return self.build_dag().run()

    def maintain(
        self, target_files: int = 1, only_if_over: int = 8
    ) -> dict[str, object]:
        """Nightly maintenance for the pipeline's own storage — the
        reference's scheduled-task cadence applied to the engine's
        metadata: compact the band index (daily appends fragment
        bands/ one file set per day, eroding exactly the pruning the
        dedup increment reads through), squash the load ledger and
        run manifest (one small file per day each), and vacuum crash
        leftovers. Content-preserving end to end: curated() and the
        NEXT increment are byte-identical pre/post (pinned by
        tests/test_curation_dag.py). Run between passes — same
        single-writer assumption as the dedup stage.

        ``only_if_over`` gates EVERY rewrite on fragmentation (r12
        verdict #1): an index partition / the ledger / the manifest
        is rewritten only when its data-file count exceeds the gate,
        so the nightly pass at daily-append cadence is a listing-only
        no-op ~``only_if_over``−1 nights out of ``only_if_over`` —
        O(appended-since-last-compaction) amortized, never O(index)
        per night. A second consecutive maintain touches zero data
        files (pinned by tests/test_curation_dag.py). Pass
        ``only_if_over=0`` for the old unconditional rewrite."""
        from ..sources.writer import atomic_overwrite
        from .maintenance import (
            _scope_file_counts,
            compact_index,
            vacuum_index,
        )

        out: dict[str, object] = {}
        if self._index_exists():
            out["index"] = compact_index(
                self.spark, self.index_path, "minhash_band",
                target_files, only_if_over=only_if_over,
            )
            out["index_vacuumed"] = vacuum_index(
                self.spark, self.index_path
            )
        fs, jpath = self._fs()
        for name, p in (
            ("ledger", self.ledger_path),
            ("runs", self.runs_path),
        ):
            if not fs.exists(jpath(p)):
                continue
            nf = _scope_file_counts(self.spark, p, False).get(None, 0)
            if nf <= only_if_over:
                out[name] = 0
                continue
            df = self.spark.read.parquet(p)
            atomic_overwrite(df.repartition(1), p)
            out[name] = self.spark.read.parquet(p).count()
        return out

    def curated(self) -> DataFrame:
        """The accumulated curated pool (doc_id, n_tokens, n_kept) —
        COMMITTED runs only: the left-semi against the run manifest
        (a broadcast over one row per ingested file — metadata-sized)
        hides partitions a crashed attempt wrote but never recorded,
        so a read between a crash and its replay can never see an
        uncommitted or double-counted doc. The GC invariant (at most
        one manifest-visible partition per doc) makes this filter the
        WHOLE read-side story: no doc-grain dedup shuffle."""
        mdf = self._manifest()
        df = self.spark.read.parquet(self.curated_path)
        if mdf is not None:
            if mdf.limit(1).count() == 0:
                # runs/ exists but holds zero rows: only a crash
                # inside the very first manifest append leaves this
                # state (any committed landing wrote its rows first).
                # Raise rather than semi-join everything away — a
                # consumer in this window must see a named error, not
                # an empty pool that reads as "no data"
                raise RuntimeError(
                    f"curation manifest at {self.runs_path} exists "
                    "but holds no rows while curated data is present "
                    "— a crashed first manifest append; replay the "
                    "curation pass (run_once) to heal before reading."
                )
            df = df.join(
                F.broadcast(mdf.select("run_id").distinct()),
                "run_id",
                "left_semi",
            )
        return df.select("doc_id", "n_tokens", "n_kept")
