"""Incremental curation DAG (plans/curation.CurationDag): the
pipeline-grain incremental≡backfill property (N id-monotone daily
increments ≡ one wholesale pass), no-op re-runs, idempotent curated
landing, and the task-graph wiring (AFTER chain, suspended-root
skip)."""

from __future__ import annotations

import pyspark.sql.functions as F

from samba_tv_ingest_etl_spark.operators.text import tokens
from samba_tv_ingest_etl_spark.plans.curation import CurationDag

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


def test_curated_landing_idempotent(spark, tmp_path):
    """The curated write is a dynamic overwrite of the run's own
    partition: replaying it (the crash-before-ledger-commit window)
    must not duplicate rows."""
    train = _train(spark)
    dag = _run_days(spark, str(tmp_path / "root"), train, [])
    before = _curated_rows(dag)
    gated = dag.curated().withColumnRenamed("doc_id", "doc_id")
    run_id = (
        dag.spark.read.parquet(dag.curated_path)
        .select("run_id")
        .distinct()
        .collect()[0]["run_id"]
    )
    dag._write_curated(gated, run_id)  # the replay
    assert _curated_rows(dag) == before


def test_crash_replay_bit_identical(spark, tmp_path):
    """Crash window: index appended + curated landed, but the ledger
    commit never ran. The next pass re-ingests the same files and
    must reproduce the same curated pool bit-for-bit (replay-safe
    dedup increment + idempotent landing)."""
    train = _train(spark).localCheckpoint(eager=True)
    ids = sorted(r["doc_id"] for r in train.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    root = str(tmp_path / "root")
    dag = _run_days(spark, root, train, [mid])
    want = _curated_rows(dag)

    # same two days, but day 2's first attempt crashes after dedup +
    # landing and BEFORE the ledger commit: simulate by running the
    # tasks directly without recording the ledger, then replay the
    # full pass
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
    dag2._write_curated(state["gated"], state["run_id"])  # no ledger!
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
    """The r11-advice orphan window: a crash AFTER the curated write
    but BEFORE the run manifest/ledger commit, with NEW files staged
    before the replay — the replay ingests old+new under a DIFFERENT
    run_id, so the crashed attempt's partition would double-count its
    docs if it stayed visible. curated() must hide it immediately
    (manifest left-semi) and the replay must garbage-collect it."""
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

    # day 1 attempt crashes right after the curated landing
    train.filter(
        (F.col("doc_id") > b1) & (F.col("doc_id") <= b2)
    ).write.mode("overwrite").parquet(f"{root}/stage/day1")
    state: dict = {}
    dag._task_ingest(state)
    dag._task_dedup(state)
    dag._task_decontaminate(state)
    dag._write_curated(state["gated"], state["run_id"])  # then crash
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
    # the orphan partition itself was garbage-collected, not just hidden
    fs, jpath = dag._fs()
    names = {
        s.getPath().getName()
        for s in fs.listStatus(jpath(dag.curated_path))
    }
    assert f"run_id={orphan_run}" not in names


def test_fresh_store_first_landing_crash_still_gcs(spark, tmp_path):
    """A crashed first attempt is never grandfathered in: on a store
    whose ledger is empty (nothing ever committed), a first landing
    that died between the curated write and its manifest record is a
    genuine orphan — the drifted replay still garbage-collects it."""
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
    dag._write_curated(state["gated"], state["run_id"])  # then crash
    orphan_run = state["run_id"]

    # drift: more files staged before the replay -> different run_id
    train.filter(F.col("doc_id") > mid).write.mode("overwrite").parquet(
        f"{root}/stage/day1"
    )
    dag.run_once()
    assert _curated_rows(dag) == want and len(want) > 0
    fs, jpath = dag._fs()
    names = {
        s.getPath().getName()
        for s in fs.listStatus(jpath(dag.curated_path))
    }
    assert f"run_id={orphan_run}" not in names


def test_vanished_staged_file_cannot_strand_orphan(spark, tmp_path):
    """Overlap-supersession (r12 advice): a crashed attempt that
    reached its manifest record but not the ledger, one of whose
    staged files VANISHED before the replay — the narrower replay's
    file set is no superset of the orphan's, but it overlaps, and
    that must be enough to supersede (a subset test would leave the
    orphan manifest-visible while the replay re-lands its surviving
    file's docs: a double count). The crashed attempt's index append
    legitimately persists (the shadow rule: dropped/uncommitted docs
    may stay index-side and suppress later near-duplicates), so the
    pins are the GC/visibility invariants — no doc appears twice,
    committed rows survive, f2's uncommitted docs never become
    visible — not equality with a twin that never saw f2."""
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
    # day 1 attempt over BOTH files crashes after its manifest record
    # but before the ledger commit
    f1.write.mode("overwrite").parquet(f"{root}/stage/day1f1")
    f2.write.mode("overwrite").parquet(f"{root}/stage/day1f2")
    state: dict = {}
    dag._task_ingest(state)
    dag._task_dedup(state)
    dag._task_decontaminate(state)
    dag._write_curated(state["gated"], state["run_id"])
    dag._gc_superseded_runs(state["run_id"], state["files"])
    dag._record_run(state["run_id"], state["files"])  # then crash
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
    fs, jpath = dag._fs()
    names = {
        s.getPath().getName()
        for s in fs.listStatus(jpath(dag.curated_path))
    }
    assert f"run_id={orphan_run}" not in names


def test_maintain_preserves_results(spark, tmp_path):
    """Nightly maintenance (index compaction + ledger/manifest squash
    + vacuum) between daily passes must change NOTHING observable:
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
    # the squashed ledger still gates re-ingest: a re-run is a no-op
    assert dag.run_once()["curation_ingest"] == 0


def _data_file_snapshot(root):
    import os

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


def test_curated_raises_in_empty_manifest_window(spark, tmp_path):
    """runs/ present with zero rows + curated data on disk is only
    ever the crashed-first-manifest-append window: curated() must
    raise a named error, not silently semi-join every committed
    partition away (an empty pool that reads as 'no data'). The
    crash leaves the ledger empty and the files still staged, so
    the next pass replays the day and heals the store."""
    import os

    import pytest

    train = _train(spark).localCheckpoint(eager=True)
    want = _curated_rows(
        _run_days(spark, str(tmp_path / "clean"), train, [])
    )

    root = str(tmp_path / "root")
    dag = CurationDag(spark, root, _eval_toks(spark))
    train.write.mode("overwrite").parquet(f"{root}/stage/day0")
    state: dict = {}
    dag._task_ingest(state)
    dag._task_dedup(state)
    dag._task_decontaminate(state)
    dag._write_curated(state["gated"], state["run_id"])
    dag._gc_superseded_runs(state["run_id"], state["files"])
    os.makedirs(dag.runs_path)  # crash inside the first _record_run
    with pytest.raises(RuntimeError, match="holds no rows"):
        dag.curated().collect()
    dag.run_once()
    assert _curated_rows(dag) == want and len(want) > 0


def test_bootstrap_crash_before_meta_rebootstraps(spark, tmp_path):
    """Crash window between the bootstrap's bands/ and meta/ commits:
    docs/ and bands/ landed, the identity row did not. The replay
    must re-bootstrap (the index is incomplete without meta/), not
    take the steady branch, whose append cannot check the index's
    width — and the curated pool must equal a clean run's."""
    import os
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
#   append         5  the curated write (3: its excision plan's
#                     eval-gram broadcast and shuffle stage are jobs
#                     of their own), manifest collect, manifest
#                     append; the ledger commit is a driver file write
# A no-op pass launches no job at all.
MAX_INGEST_JOBS = 2
MAX_DEDUP_JOBS = 6
MAX_APPEND_JOBS = 5
TASKS = ("ingest", "dedup", "decontaminate", "append")


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _pass_jobs(spark, dag, tag):
    """{task: (result, jobs)} for one pass run task by task."""
    state: dict = {}
    return {
        t: _jobs(
            spark,
            f"curation-{t}-{tag}",
            lambda t=t: getattr(dag, f"_task_{t}")(state),
        )
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
        kept, n = _jobs(
            spark, f"curation-dedup-{name}", lambda: dag._task_dedup(state)
        )
        assert kept > 0
        return n

    assert steady_dedup_jobs("x1", boot) == steady_dedup_jobs("x4", big)
