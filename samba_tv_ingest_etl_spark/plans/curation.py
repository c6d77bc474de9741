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
                           stage the run's ledger entry and curated
                           rows, commit the entry, then move the rows
                           into curated/ — one load, one commit
                           (sources/ledger.py), the watermark as in
                           the reference (etl-dag.sql:147-156)

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

Exactly-once, end to end: a run lands through the load ledger's
commit protocol, as the TV ingest does. Its ledger entry and its
curated rows stage under ``runs/<run_id>/`` (run_id = hash of the
file set); renaming the entry into the ledger commits the run; only
then does the ``run_id=<h>`` partition move into ``curated/``. Every
pass first finishes or undoes what an earlier pass left staged
(``ledger.recover_staged``), so a partition under ``curated/`` is
committed by construction and ``curated()`` is a plain read. A crash
before the commit replays the whole day: the ingest re-lists the
unrecorded files, the dedup increment
(``dedup.dedup_increment_against_index``, the one batch-vs-index
MinHash entry point) is replay-safe (the index side excludes the
batch's own ids, and the re-append's duplicate rows are
result-neutral by the band index contract), and decontamination is
deterministic per doc. A replay whose file set drifted (files staged
or vanished after the crash) stages under a different run_id; the
crashed attempt never reached ``curated/``, so nothing double-counts.
A crash after the commit is rolled forward by the next pass, which
then finds nothing new. A pass with nothing newly staged launches no
job in its landing task.

The global token-budget head (q111/q131's final stage) is
deliberately NOT in the DAG: it is a global selection over the
curated pool, re-run wholesale over ``curated/`` when a training mix
is cut — an incremental top-k-by-score would need retraction
semantics no append-only pipeline has.

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
decontamination launches no job of its own. A steady pass makes 11
Spark jobs on the test fixture, and the dedup's share does not grow
with the index (``tests/test_curation_dag.py`` pins both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.text import tokens
from ..sources.writer import recover_swap
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
        root/runs/        runs in flight: <run_id>/ holds a run's
                          staged ledger entry and curated rows until
                          the next pass finishes or undoes it

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

    def _index_exists(self) -> bool:
        """True only when the WHOLE index exists: write_band_index
        commits docs/, bands/ and then meta/ as separate atomic
        overwrites, so a crash between any two must route the replay
        back to the BOOTSTRAP branch (whose overwrites are
        idempotent). Gating on docs/ alone sent that replay to the
        steady-state branch, whose read of the missing bands/ fails
        permanently (r11 advice: a manual-cleanup crash loop); a
        missing meta/ would fail every steady append's identity
        check the same way. Each directory first finishes a swap that
        crashed between its renames (``writer.recover_swap``): a crash
        inside ``maintain``'s compaction would otherwise read as "no
        index" and bootstrap over the indexed corpus."""
        return all(
            recover_swap(self.spark, f"{self.index_path}/{d}")
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
        from ..sources.ledger import LoadLedger, load_id, recover_staged
        from ..sources.splits import widen_to_cores
        from ..sources.stage import list_stage_files

        # an earlier pass's staged run is committed or not: settle it
        # before the ledger read
        recover_staged(self.spark, self.runs_path, self.curated_path)
        discovered = list_stage_files(
            self.spark, self.stage_path, _STAGE_PATTERN
        )
        new = LoadLedger(self.spark, self.ledger_path).new_files(
            _FEED, discovered
        )
        state["files"] = new
        if not new:
            state["batch"] = None
            return 0
        state["run_id"] = load_id(new)
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
        from ..sources.ledger import LoadLedger, recover_staged

        if state.get("gated") is None:
            return 0
        entry = self._stage_run(state)
        LoadLedger(self.spark, self.ledger_path).commit(
            entry, state["run_id"]
        )
        recover_staged(self.spark, self.runs_path, self.curated_path)
        return 1

    def _stage_run(self, state: dict) -> str:
        """Stage the run under ``runs/<run_id>/``: its ledger entry
        first, then its gated rows as the ``run_id=<h>`` partition.
        Returns the staged entry's path."""
        from ..sources import control
        from ..sources.ledger import ENTRY, LoadLedger
        from ..sources.writer import append

        staging = f"{self.runs_path}/{state['run_id']}"
        entry = f"{staging}/{ENTRY}"
        control.write_table(
            self.spark, entry, LoadLedger.entry(_FEED, state["files"])
        )
        # append, not overwrite: an overwrite would delete the entry
        append(
            state["gated"].withColumn("run_id", F.lit(state["run_id"])),
            staging,
            ["run_id"],
        )
        return entry

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
        dedup increment reads through) and vacuum crash leftovers.
        The load ledger bounds itself (``LoadLedger`` folds its entry
        files on commit). Content-preserving end to end: curated()
        and the NEXT increment are byte-identical pre/post (pinned by
        tests/test_curation_dag.py). Run between passes — same
        single-writer assumption as the dedup stage.

        ``only_if_over`` gates EVERY rewrite on fragmentation (r12
        verdict #1): an index partition is rewritten only when its
        data-file count exceeds the gate, so the nightly pass at
        daily-append cadence is a listing-only no-op
        ~``only_if_over``−1 nights out of ``only_if_over`` —
        O(appended-since-last-compaction) amortized, never O(index)
        per night. A second consecutive maintain touches zero data
        files (pinned by tests/test_curation_dag.py). Pass
        ``only_if_over=0`` for the old unconditional rewrite."""
        from .maintenance import compact_index, vacuum_index

        out: dict[str, object] = {}
        if self._index_exists():
            out["index"] = compact_index(
                self.spark, self.index_path, "minhash_band",
                target_files, only_if_over=only_if_over,
            )
            out["index_vacuumed"] = vacuum_index(
                self.spark, self.index_path
            )
        return out

    def curated(self) -> DataFrame:
        """The accumulated curated pool (doc_id, n_tokens, n_kept).
        Only a committed run's rows ever reach ``curated/``, so this
        is a plain read."""
        return self.spark.read.parquet(self.curated_path).select(
            "doc_id", "n_tokens", "n_kept"
        )
