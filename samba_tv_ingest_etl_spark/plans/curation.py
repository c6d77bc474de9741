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
index side excludes the batch's own ids, and the re-append's
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

Scale shape: per-day work is O(|batch|) and touches the standing
corpus ONLY through the at-rest index. Ingest tokenizes the batch
once into one (doc_id, toks) checkpoint that both the dedup and the
excision read. The dedup signs that batch in one job and holds ONE
copy of it on the driver (ids, shingle sets, signatures); every
batch-side operand comes from that copy, so no batch-side frame is
broadcast. The index is scanned once per directory and never
shuffles: ``bands/`` through a literal filter on the batch's
band-key hashes for candidates, ``docs/`` pruned to the candidate
ids for the exact verify; the new x new candidates, every Jaccard
verify and the survivor list stay on the driver. Driver bound: the
batch plus the candidate set — increment-sized by contract. The
eval set is benchmark-sized by the enforced broadcast budget
(dedup.EVAL_GRAM_BUDGET); its gram set is built once per DAG, so
decontamination launches no job of its own. A steady pass makes 13
Spark jobs on the test fixture, and the dedup's share does not grow
with the index (``tests/test_curation_dag.py`` pins both).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.text import tokens
from .dag import TaskDag

__all__ = ["CurationDag", "CURATION_CRON"]

# the reference's ETL root schedule, verbatim (etl-dag.sql:3)
CURATION_CRON = "0 5 * * * UTC"

_STAGE_PATTERN = r".*\.parquet$"
_FEED = "curation_docs"
# declared on the drop read, so it launches no schema-inference job
_DROP_SCHEMA = "doc_id long, text string"


class CurationDag:
    """One curation pipeline rooted at ``root``::

        root/stage/       daily parquet drops of (doc_id, text)
        root/band_index/  persisted MinHash band index (docs/+bands/)
        root/ledger/      load ledger (file-grain watermark)
        root/curated/     run_id=<h>/ (doc_id, n_tokens, n_kept)
        root/runs/        run manifest (run_id, file_path) — the
                          committed-run record curated() filters by

    ``eval_toks``: (doc_id, toks) token frame of the eval suite —
    fixed and benchmark-sized by the decontamination contract; its
    gram set is built once, at construction."""

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
        self.ngram = ngram
        self.threshold_pct = threshold_pct
        self.span_k = span_k
        self.min_kept = min_kept
        # the eval suite is fixed for the DAG's lifetime: its gram set
        # and budget check run once here, not on every pass
        self.eval_grams = D.eval_gram_set(eval_toks, k=span_k)

    # -- setup ---------------------------------------------------------

    def _fs(self):
        sc = self.spark.sparkContext
        jroot = sc._jvm.org.apache.hadoop.fs.Path(self.root)
        return (
            jroot.getFileSystem(sc._jsc.hadoopConfiguration()),
            sc._jvm.org.apache.hadoop.fs.Path,
        )

    def _index_exists(self) -> bool:
        """True only when the WHOLE index exists: write_band_index
        commits docs/, bands/ and then meta/ as separate atomic
        overwrites, so a crash between any two must route the replay
        back to the BOOTSTRAP branch (whose overwrites are
        idempotent). Gating on docs/ alone sent that replay to the
        steady-state branch, whose read of the missing bands/ fails
        permanently (r11 advice: a manual-cleanup crash loop); a
        missing meta/ would fail every steady append's identity
        check the same way."""
        fs, jpath = self._fs()
        return all(
            fs.exists(jpath(f"{self.index_path}/{d}"))
            for d in ("docs", "bands", "meta")
        )

    # -- tasks ---------------------------------------------------------

    def _task_ingest(self, state: dict) -> int:
        """Materialize the batch ONCE as (doc_id, toks): the dedup
        shingles from it and the excision cuts it, so each doc is
        tokenized once per pass. The row count comes from an
        observation on the checkpoint job, not a count job.

        Recompute-on-loss: a ``localCheckpoint`` block has no lineage,
        so losing one (executor loss) fails the task that reads it.
        That failure lands before the pass's ledger commit, and a
        failed pass is a crash the DAG already replays whole: the next
        pass re-lists the unrecorded files and rebuilds the batch. The
        checkpoint lives for one pass only."""
        from ..sources.ledger import LoadLedger
        from ..sources.splits import widen_to_cores
        from ..sources.stage import list_stage_files

        discovered = list_stage_files(
            self.spark, self.stage_path, _STAGE_PATTERN
        )
        # one ledger read per pass: the landing's GC reuses it
        seen = LoadLedger(self.spark, self.ledger_path).seen(_FEED)
        new = [f for f in discovered if f not in seen]
        state["ledgered"] = seen
        state["files"] = new
        if not new:
            state["batch"] = None
            return 0
        # run identity = the file set, so a crashed run's replay
        # lands on the SAME curated partition (idempotent overwrite)
        state["run_id"] = hashlib.sha256(
            "\n".join(sorted(new)).encode()
        ).hexdigest()[:16]
        rows = Observation()
        state["batch"] = (
            widen_to_cores(
                self.spark.read.schema(_DROP_SCHEMA).parquet(*new)
            )
            .select("doc_id", tokens(F.col("text")).alias("toks"))
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        return rows.get["n"]

    def _task_dedup(self, state: dict) -> int:
        if state.get("batch") is None:
            state["survivor_docs"] = None
            return 0
        batch = state["batch"]
        shingled = D.shingle_tokens(batch, ngram=self.ngram)
        # Bootstrap: the FIRST batch becomes the index (parquet can't
        # persist a zero-row partitioned frame's schema, so there is
        # no "empty index" on disk), and the replay-safe increment
        # then runs against it — its exclusion of the batch's own ids
        # makes the index side effectively empty, so survivors reduce
        # to the batch-internal smaller-id rule: ONE code path for
        # bootstrap, steady state, and crash replay (a crash after
        # the bootstrap write lands in the steady-state branch, whose
        # exclusion + result-neutral re-append reproduce the same
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
        # driver-held survivors: the collect and the count are free
        ids = [r["doc_id"] for r in survivors.collect()]
        state["survivor_docs"] = batch.filter(D.ints_in("doc_id", ids))
        return len(ids)

    def _task_decontaminate(self, state: dict) -> int:
        if state.get("survivor_docs") is None:
            state["gated"] = None
            return 0
        out = D.excise_against_eval_grams(
            state["survivor_docs"], self.eval_grams, k=self.span_k
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
        self._gc_superseded_runs(
            state["run_id"], state["files"], state["ledgered"]
        )
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
        self,
        current_run_id: str,
        current_files: list[str],
        ledgered: set[str] | None = None,
    ) -> list[str]:
        """Delete curated partitions of crashed attempts the current
        run supersedes. Returns the removed run_ids. ``ledgered`` is
        the feed's ledger as this pass's ingest read it (the ledger
        only changes in the pass's own final commit); it is read here
        when not given."""
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
        if ledgered is None:
            ledgered = LoadLedger(self.spark, self.ledger_path).seen(
                _FEED
            )
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
