"""Incremental curation DAG (plans/curation.CurationDag): the
pipeline-grain incremental≡backfill property (N id-monotone daily
increments ≡ one wholesale pass), no-op re-runs, crash replay of the
landing's commit protocol, and the task-graph wiring (AFTER chain,
suspended-root skip)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from samba_tv_ingest_etl_spark.operators.text import tokens
from samba_tv_ingest_etl_spark.plans.curation import CurationDag
from samba_tv_ingest_etl_spark.sources.ledger import LoadLedger

from .conftest import count_jobs

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(SF_DIR + "/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )


def _eval_toks(spark):
    docs = _docs(spark)
    return docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )


def _train(spark):
    docs = _docs(spark)
    return docs.filter(F.col("doc_id") % 50 != 0).unionByName(
        # verbatim copies: real dedup work for the MinHash stage
        docs.filter(F.col("doc_id") % 10 == 1).select(
            (F.col("doc_id") + F.lit(1_000_000_000_000)).alias(
                "doc_id"
            ),
            "text",
        )
    )


def _curated_rows(dag):
    return sorted(
        (r["doc_id"], r["n_tokens"], r["n_kept"])
        for r in dag.curated().collect()
    )


def _run_days(spark, root, train, bounds):
    """One CurationDag driven through len(bounds)+1 id-monotone daily
    batches split at the given id bounds, ascending."""
    dag = CurationDag(spark, root, _eval_toks(spark))
    lo = None
    for i, hi in enumerate(list(bounds) + [None]):
        b = train
        if lo is not None:
            b = b.filter(F.col("doc_id") > lo)
        if hi is not None:
            b = b.filter(F.col("doc_id") <= hi)
        b.write.mode("overwrite").parquet(f"{root}/stage/day{i}")
        dag.run_once()
        lo = hi
    return dag


def test_increments_equal_wholesale(spark, tmp_path):
    """Three id-monotone daily increments must accumulate to exactly
    the single-pass result — the reference's incremental≡backfill
    property (SURVEY §5) at curation-pipeline grain."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    b1, b2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    inc = _run_days(spark, str(tmp_path / "inc"), train, [b1, b2])
    whole = _run_days(spark, str(tmp_path / "whole"), train, [])
    got, want = _curated_rows(inc), _curated_rows(whole)
    assert got == want and len(want) > 0


def test_rerun_without_new_files_is_noop(spark, tmp_path):
    """A pass with nothing newly staged must be a no-op end to end
    (the availableNow-cron operating model: idle fires are free)."""
    train = _train(spark)
    dag = _run_days(spark, str(tmp_path / "root"), train, [])
    before = _curated_rows(dag)
    results = dag.run_once()
    assert results["curation_ingest"] == 0
    assert _curated_rows(dag) == before


def test_crash_replay_bit_identical(spark, tmp_path):
    """Crash window: index appended + run staged, but the ledger
    commit never ran. The next pass re-ingests the same files and
    must reproduce the same curated pool bit-for-bit (replay-safe
    dedup increment + the uncommitted staging undone)."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    root = str(tmp_path / "root")
    dag = _run_days(spark, root, train, [mid])
    want = _curated_rows(dag)

    # same two days, but day 2's first attempt crashes after dedup +
    # staging and BEFORE the ledger commit: simulate by running the
    # tasks directly without committing, then replay the full pass
    root2 = str(tmp_path / "root2")
    dag2 = CurationDag(spark, root2, _eval_toks(spark))
    train.filter(F.col("doc_id") <= mid).write.mode("overwrite").parquet(
        f"{root2}/stage/day0"
    )
    dag2.run_once()
    train.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(
        f"{root2}/stage/day1"
    )
    state: dict = {}
    dag2._task_ingest(state)
    dag2._task_dedup(state)
    dag2._task_decontaminate(state)
    dag2._stage_run(state)  # no commit!
    dag2.run_once()  # the replay: files still unrecorded
    assert _curated_rows(dag2) == want


def test_dag_wiring(spark, tmp_path):
    """AFTER chain order and suspended-root semantics come from
    TaskDag; pin the wiring: topological order is the 4-stage chain,
    the root carries the reference's ETL cron, and suspending the
    root skips the whole pass."""
    dag = CurationDag(spark, str(tmp_path / "root"), _eval_toks(spark))
    tdag = dag.build_dag()
    assert tdag.order() == [
        "curation_ingest",
        "curation_dedup",
        "curation_decontaminate",
        "curation_append",
    ]
    shown = {t["name"]: t for t in tdag.show()}
    assert shown["curation_ingest"]["schedule"] == "0 5 * * *"
    assert shown["curation_ingest"]["timezone"] == "UTC"
    tdag.suspend("curation_ingest")
    assert tdag.run() == {}


def test_bootstrap_crash_between_index_writes_recovers(spark, tmp_path):
    """Crash window between the bootstrap's docs/ and bands/ writes
    (r11 advice): _index_exists must route the replay back to the
    bootstrap branch — whose atomic overwrites are idempotent —
    instead of the steady-state branch, whose read of the missing
    bands/ would crash-loop permanently."""
    import shutil

    from samba_tv_ingest_etl_spark.operators import dedup as D

    train = _train(spark).localCheckpoint(eager=True)
    want = _curated_rows(_run_days(spark, str(tmp_path / "clean"), train, []))

    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))
    train.write.mode("overwrite").parquet(f"{root}/stage/day0")
    # simulate the crashed bootstrap: docs/ landed, bands/ (and the
    # meta row, written after it) did not
    D.write_band_index(
        D.shingle_docs(train.select("doc_id", "text"), ngram=dag.ngram),
        dag.index_path,
    )
    shutil.rmtree(dag.index_path + "/bands")
    shutil.rmtree(dag.index_path + "/meta")
    dag.run_once()  # the replay: must re-bootstrap, not crash
    assert _curated_rows(dag) == want and len(want) > 0


def test_drifting_replay_no_duplicates(spark, tmp_path):
    """The r11-advice orphan window: a crash AFTER the run is staged
    but BEFORE the ledger commit, with NEW files staged before the
    replay — the replay ingests old+new under a DIFFERENT run_id, so
    the crashed attempt's rows would double-count its docs if they
    became visible. curated() must not show them, and the replay must
    remove them."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    b1, b2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    # clean equivalent: day A = ids<=b1, day B = the rest in one pass
    want = _curated_rows(
        _run_days(spark, str(tmp_path / "clean"), train, [b1])
    )

    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))
    train.filter(F.col("doc_id") <= b1).write.mode("overwrite").parquet(
        f"{root}/stage/day0"
    )
    dag.run_once()
    committed = _curated_rows(dag)

    # day 1 attempt crashes right after staging its run
    train.filter(
        (F.col("doc_id") > b1) & (F.col("doc_id") <= b2)
    ).write.mode("overwrite").parquet(f"{root}/stage/day1")
    state: dict = {}
    dag._task_ingest(state)
    dag._task_dedup(state)
    dag._task_decontaminate(state)
    dag._stage_run(state)  # then crash
    orphan_run = state["run_id"]
    # a read between the crash and the replay sees ONLY committed runs
    assert _curated_rows(dag) == committed

    # new files staged before the replay -> the replay's file set
    # (day1+day2) hashes to a different run_id than the crashed day1
    train.filter(F.col("doc_id") > b2).write.mode("overwrite").parquet(
        f"{root}/stage/day2"
    )
    dag.run_once()
    assert _curated_rows(dag) == want
    # the orphan partition never reached curated/
    assert f"run_id={orphan_run}" not in os.listdir(dag.curated_path)


def test_fresh_store_first_landing_crash_still_gcs(spark, tmp_path):
    """A crashed first attempt is never grandfathered in: on a store
    whose ledger is empty (nothing ever committed), a first landing
    that died between staging and its ledger commit is a genuine
    orphan — the drifted replay still removes it."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    want = _curated_rows(
        _run_days(spark, str(tmp_path / "clean"), train, [])
    )

    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))
    train.filter(F.col("doc_id") <= mid).write.mode("overwrite").parquet(
        f"{root}/stage/day0"
    )
    state: dict = {}
    dag._task_ingest(state)
    dag._task_dedup(state)
    dag._task_decontaminate(state)
    dag._stage_run(state)  # then crash
    orphan_run = state["run_id"]

    # drift: more files staged before the replay -> different run_id
    train.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(
        f"{root}/stage/day1"
    )
    dag.run_once()
    assert _curated_rows(dag) == want and len(want) > 0
    assert f"run_id={orphan_run}" not in os.listdir(dag.curated_path)


def test_vanished_staged_file_cannot_strand_orphan(spark, tmp_path):
    """A crashed attempt that staged its run but never committed it,
    one of whose staged files VANISHED before the replay — the
    narrower replay's file set is no superset of the orphan's, and
    the orphan must still not survive beside the replay, which
    re-lands its surviving file's docs (a double count). The crashed
    attempt's index append legitimately persists (the shadow rule:
    dropped/uncommitted docs may stay index-side and suppress later
    near-duplicates), so the pins are the visibility invariants — no
    doc appears twice, committed rows survive, f2's uncommitted docs
    never become visible — not equality with a twin that never saw
    f2."""
    train = _docs(spark).filter(F.col("doc_id") % 50 != 0).localCheckpoint(
        eager=True
    )
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    b1, b2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    d0 = train.filter(F.col("doc_id") <= b1)
    f1 = train.filter((F.col("doc_id") > b1) & (F.col("doc_id") <= b2))
    f2 = train.filter(F.col("doc_id") > b2)
    f1_ids = {r["doc_id"] for r in f1.select("doc_id").collect()}
    f2_ids = {r["doc_id"] for r in f2.select("doc_id").collect()}

    import shutil

    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))
    d0.write.mode("overwrite").parquet(f"{root}/stage/day0")
    dag.run_once()
    day0_rows = set(_curated_rows(dag))
    # day 1 attempt over BOTH files crashes after staging its run
    # but before the ledger commit
    f1.write.mode("overwrite").parquet(f"{root}/stage/day1f1")
    f2.write.mode("overwrite").parquet(f"{root}/stage/day1f2")
    state: dict = {}
    dag._task_ingest(state)
    dag._task_dedup(state)
    dag._task_decontaminate(state)
    dag._stage_run(state)  # then crash
    orphan_run = state["run_id"]

    shutil.rmtree(f"{root}/stage/day1f2")  # f2 vanishes
    dag.run_once()  # replay ingests only f1: overlap, not superset
    rows = _curated_rows(dag)
    got_ids = [r[0] for r in rows]
    # no double count: the orphan's f1 copies are gone
    assert len(got_ids) == len(set(got_ids))
    # committed day-0 rows untouched
    assert day0_rows <= set(rows)
    # f2's uncommitted docs never became visible; f1's replay landed
    assert not (set(got_ids) & f2_ids)
    assert set(got_ids) & f1_ids
    assert f"run_id={orphan_run}" not in os.listdir(dag.curated_path)


class _Crash(RuntimeError):
    pass


def _crash_before_commit(monkeypatch):
    def commit(self, staged_entry, name):
        raise _Crash("crash after staging the run")

    monkeypatch.setattr(LoadLedger, "commit", commit)


def _crash_after_commit(monkeypatch):
    orig = LoadLedger.commit

    def commit(self, staged_entry, name):
        orig(self, staged_entry, name)
        raise _Crash("crash after the ledger commit")

    monkeypatch.setattr(LoadLedger, "commit", commit)


@pytest.mark.parametrize(
    "crash", [_crash_before_commit, _crash_after_commit],
    ids=["before_commit", "after_commit"],
)
def test_landing_crash_replays_exactly_once(spark, tmp_path, monkeypatch, crash):
    """A run commits once, at its ledger entry. A pass that stops after
    staging its run, or after committing it but before moving its rows
    into curated/, must leave curated() at the pool committed before
    it; the next pass must then reach a clean run's pool, with no doc
    twice and no run left in flight under runs/."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    want = _curated_rows(
        _run_days(spark, str(tmp_path / "clean"), train, [mid])
    )

    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))
    train.filter(F.col("doc_id") <= mid).write.mode("overwrite").parquet(
        f"{root}/stage/day0"
    )
    dag.run_once()
    committed = _curated_rows(dag)
    train.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(
        f"{root}/stage/day1"
    )
    crash(monkeypatch)
    with pytest.raises(_Crash):
        dag.run_once()
    monkeypatch.undo()
    assert _curated_rows(dag) == committed

    dag.run_once()
    rows = _curated_rows(dag)
    assert rows == want and len(want) > len(committed)
    assert len({r[0] for r in rows}) == len(rows)
    assert os.listdir(dag.runs_path) == []


def test_maintain_preserves_results(spark, tmp_path):
    """Nightly maintenance (index compaction + vacuum) between daily
    passes must change NOTHING observable:
    curated() identical before/after, and the next increment lands
    the same rows a maintenance-free twin lands."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    b1, b2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]

    plain = _run_days(spark, str(tmp_path / "plain"), train, [b1, b2])
    want = _curated_rows(plain)

    root = str(tmp_path / "maint")
    dag = CurationDag(spark, root, _eval_toks(spark))
    lo = None
    for i, hi in enumerate([b1, b2, None]):
        b = train
        if lo is not None:
            b = b.filter(F.col("doc_id") > lo)
        if hi is not None:
            b = b.filter(F.col("doc_id") <= hi)
        b.write.mode("overwrite").parquet(f"{root}/stage/day{i}")
        dag.run_once()
        before = _curated_rows(dag)
        out = dag.maintain(only_if_over=0)  # force the full rewrite
        assert "index" in out
        assert _curated_rows(dag) == before
        lo = hi
    assert _curated_rows(dag) == want and len(want) > 0
    # the ledger still gates re-ingest: a re-run is a no-op
    assert dag.run_once()["curation_ingest"] == 0


def test_maintain_crash_mid_docs_swap_keeps_index(
    spark, tmp_path, monkeypatch
):
    """A crash inside ``maintain``'s docs/ compaction, between the
    rename of ``docs`` to ``docs__old__`` and of ``docs__tmp__`` to
    ``docs``, must not lose the index: the next pass finishes the
    swap and dedups against the whole indexed corpus, so its curated
    pool equals a crash-free run's. Read as "no index", the pass
    would bootstrap from its own batch and keep the next day's copies
    of day-one documents."""
    from samba_tv_ingest_etl_spark.sources import writer

    from .test_writer_atomic import _FailRenameTo

    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    want = _curated_rows(
        _run_days(spark, str(tmp_path / "clean"), train, [mid])
    )

    root = str(tmp_path / "root")
    dag = _run_days(spark, root, train.filter(F.col("doc_id") <= mid), [])
    real_fs = writer._fs

    def failing(sp, p):
        fs, jp = real_fs(sp, p)
        return _FailRenameTo(fs, "/docs"), jp

    # the second rename fails: docs/ is gone, both siblings stay
    monkeypatch.setattr(writer, "_fs", failing)
    with pytest.raises(RuntimeError, match="rename"):
        dag.maintain(only_if_over=0)
    monkeypatch.undo()
    assert not os.path.exists(dag.index_path + "/docs")

    train.filter(F.col("doc_id") > mid).write.parquet(f"{root}/stage/day1")
    dag.run_once()
    assert _curated_rows(dag) == want and len(want) > 0
    assert sorted(os.listdir(dag.index_path)) == ["bands", "docs", "meta"]


def _data_file_snapshot(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def test_maintain_gated_second_run_touches_nothing(spark, tmp_path):
    """The fragmentation gate (r12 verdict #1): after a compacting
    maintain, a second consecutive maintain must be a listing-only
    no-op — zero data files created, deleted, or rewritten anywhere
    under the store — and a nightly maintain between daily passes
    must skip scopes below the gate instead of rewriting O(index)."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    root = str(tmp_path / "root")
    dag = _run_days(spark, root, train, [mid])

    # force one full compaction, then gate: nothing exceeds it
    dag.maintain(only_if_over=0)
    before = _data_file_snapshot(root)
    out = dag.maintain()  # default gate
    assert _data_file_snapshot(root) == before
    assert set(out["index"].values()) == {0}
    assert out.get("ledger", 0) == 0 and out.get("runs", 0) == 0

    # a fresh store at 2-appends fragmentation also sits under the
    # default gate: the nightly maintain is a no-op there too
    root2 = str(tmp_path / "root2")
    dag2 = _run_days(spark, root2, train, [mid])
    before2 = _data_file_snapshot(f"{root2}/band_index")
    out2 = dag2.maintain()
    assert _data_file_snapshot(f"{root2}/band_index") == before2
    assert set(out2["index"].values()) == {0}


def test_bootstrap_crash_before_meta_rebootstraps(spark, tmp_path):
    """Crash window between the bootstrap's bands/ and meta/ commits:
    docs/ and bands/ landed, the identity row did not. The replay
    must re-bootstrap (the index is incomplete without meta/), not
    take the steady branch, whose append cannot check the index's
    width — and the curated pool must equal a clean run's."""
    import shutil

    from samba_tv_ingest_etl_spark.operators import dedup as D

    train = _train(spark).localCheckpoint(eager=True)
    want = _curated_rows(_run_days(spark, str(tmp_path / "clean"), train, []))

    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))
    train.write.mode("overwrite").parquet(f"{root}/stage/day0")
    D.write_band_index(
        D.shingle_docs(train.select("doc_id", "text"), ngram=dag.ngram),
        dag.index_path,
    )
    shutil.rmtree(dag.index_path + "/meta")
    dag.run_once()  # the replay
    assert _curated_rows(dag) == want and len(want) > 0
    assert os.path.isdir(dag.index_path + "/meta")


# Spark jobs each task may launch, measured on the fixture at 4
# cores (steady pass):
#   ingest         2  the batch checkpoint (its widening shuffle is a
#                     job of its own); the ledger is read on the driver
#   dedup          6  sign+collect, bands/ probe, docs/ verify, meta/
#                     check, two appends (bootstrap: the index write's
#                     checkpoint and three writes, sign+collect,
#                     bands/ probe)
#   decontaminate  0  the eval grams are built by the constructor
#   append         3  the staged curated write (its excision plan's
#                     eval-gram broadcast and shuffle stage are jobs
#                     of their own); the entry, the commit and the
#                     move into curated/ are driver file operations
# A no-op pass launches no job at all.
MAX_INGEST_JOBS = 2
MAX_DEDUP_JOBS = 6
MAX_APPEND_JOBS = 3
TASKS = ("ingest", "dedup", "decontaminate", "append")


def _pass_jobs(spark, dag, tag):
    """{task: (result, jobs)} for one pass run task by task."""
    state: dict = {}
    return {
        t: count_jobs(
            spark,
            f"curation-{t}-{tag}",
            lambda t=t: getattr(dag, f"_task_{t}")(state),
        )[:2]
        for t in TASKS
    }


def test_curation_task_job_counts(spark, tmp_path):
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))

    train.filter(F.col("doc_id") <= mid).write.mode("overwrite").parquet(
        f"{root}/stage/day0"
    )
    got = _pass_jobs(spark, dag, "bootstrap")
    assert got["dedup"][0] > 0 and got["append"][0] == 1, got
    assert got["ingest"][1] <= MAX_INGEST_JOBS, got
    assert got["dedup"][1] <= MAX_DEDUP_JOBS, got
    assert got["decontaminate"][1] == 0, got

    train.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(
        f"{root}/stage/day1"
    )
    got = _pass_jobs(spark, dag, "steady")
    assert got["dedup"][0] > 0 and got["append"][0] == 1, got
    assert got["ingest"][1] <= MAX_INGEST_JOBS, got
    assert got["dedup"][1] <= MAX_DEDUP_JOBS, got
    assert got["decontaminate"][1] == 0, got
    assert 1 <= got["append"][1] <= MAX_APPEND_JOBS, got

    got = _pass_jobs(spark, dag, "noop")
    assert got["ingest"][0] == 0 and got["append"][0] == 0, got
    assert [got[t][1] for t in TASKS] == [0, 0, 0, 0], got


def test_steady_dedup_jobs_flat_in_index_size(spark, tmp_path):
    """The dedup's job count depends on the batch, not the index: the
    same steady batch against a 4x larger index launches exactly as
    many jobs."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    boot = train.filter(F.col("doc_id") <= mid)
    # three more edited copies of the bootstrap, all below its ids
    big = boot
    for i in (1, 2, 3):
        big = big.unionByName(
            boot.select(
                (F.col("doc_id") - F.lit(i * 10**13)).alias("doc_id"),
                F.concat("text", F.lit(f" copy {i}")).alias("text"),
            )
        )
    day = train.filter(F.col("doc_id") > mid)

    def steady_dedup_jobs(name, index_docs):
        root = str(tmp_path / name)
        dag = CurationDag(spark, root, _eval_toks(spark))
        index_docs.write.mode("overwrite").parquet(f"{root}/stage/day0")
        dag.run_once()
        day.write.mode("overwrite").parquet(f"{root}/stage/day1")
        state: dict = {}
        dag._task_ingest(state)
        kept, n, _ = count_jobs(
            spark, f"curation-dedup-{name}", lambda: dag._task_dedup(state)
        )
        assert kept > 0
        return n

    assert steady_dedup_jobs("x1", boot) == steady_dedup_jobs("x4", big)
