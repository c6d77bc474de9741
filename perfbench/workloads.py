"""The benchmark's workloads.

Each workload builds its starting state in ``setup`` (timed as
``setup_s``), computes its expected results in ``expect`` (untimed),
and then repeats one timed ``op``. Before every op ``restore`` copies
the post-setup state back (untimed), so op N never runs against a
bigger table than op 1. ``check`` compares the op's output with the
oracle (untimed). Only engine entry points are called; spans wrap
those calls from the outside.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle

SCALES = {
    "default": {
        "devices": 2000, "households": 1000, "titles": 100,
        "boot_days": 7, "events_per_day": 3000,
        "boot_docs": 1000, "daily_docs": 500,
        "vectors": 10000, "queries": 64, "batches": 6,
    },
    # the smoke test's size: every code path, seconds per workload
    "tiny": {
        "devices": 200, "households": 100, "titles": 20,
        "boot_days": 8, "events_per_day": 300,
        "boot_docs": 300, "daily_docs": 100,
        "vectors": 3000, "queries": 16, "batches": 2,
    },
}

RECALL_FLOOR = 0.75


class Workload:
    name = ""
    spans: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, scale: dict, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.store = os.path.join(work, "store")
        self.snap = os.path.join(work, "snapshot")

    def setup(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        """Expected results (untimed)."""

    def setup_problems(self) -> list[str]:
        return []

    def restore(self) -> None:
        """Put the post-setup state back (untimed)."""
        for name in os.listdir(self.snap):
            dst = os.path.join(self.store, name)
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(os.path.join(self.snap, name), dst)

    def _snapshot(self, names) -> None:
        os.makedirs(self.snap)
        for n in names:
            shutil.copytree(os.path.join(self.store, n),
                            os.path.join(self.snap, n))

    def op(self, i: int) -> dict:
        """One timed operation; returns ``rows`` (input rows consumed),
        ``in_bytes`` (bytes of new input files read) and whatever
        ``check``/``counters`` need."""
        raise NotImplementedError

    def check(self, res: dict) -> list[str]:
        raise NotImplementedError

    def counters(self, res: dict, created: list[str]) -> dict[str, float]:
        """Per-op layer ratios, traced run only (untimed)."""
        return {}


# ---------------------------------------------------------------- TV


class TvDaily(Workload):
    """Set-up bootstraps the warehouse the way the reference does:
    COPY-INTO ingest of the first ``boot_days`` drops, the one-shot
    backfill under ``Warehouse.SCALE_LAYOUT``, the reach/frequency
    rollup over ``v_audience_metrics``, and the control table advanced
    to the loaded drops (``update_control_table``, the daily DAG's own
    watermark task). The timed op is one daily cycle: the ingest DAG
    for the next drop, then the five-task incremental DAG."""

    name = "tv_daily"
    INGEST = "sources.ingest.ingest_feed"
    BACKFILL_TABLES = ("panel_windows", "raw_viewing_events",
                       "weighted_events", "viewing_sessions")
    ROLLUP = "operators.metrics.reach_frequency_rollup"
    INC_TASKS = ("update_panel_windows", "update_raw_events",
                 "update_weighted_events", "update_viewing_sessions",
                 "update_control_table")
    spans = ((INGEST,)
             + tuple(f"plans.backfill.{t}" for t in BACKFILL_TABLES)
             + (ROLLUP,)
             + tuple(f"plans.incremental.{t}" for t in INC_TASKS))

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.stage = os.path.join(self.work, "stage")
        self.days = self.scale["boot_days"] + 1

    def _ingest(self):
        from samba_tv_ingest_etl_spark.sources.ingest import build_ingest_dag

        dag = build_ingest_dag(self.spark, self.stage,
                               os.path.join(self.store, "raw"),
                               os.path.join(self.store, "ledger"))
        for t in dag.tasks.values():
            t.fn = self.tracer.wrap(self.INGEST, t.fn)
        return dag.run()

    def _feeds(self):
        from samba_tv_ingest_etl_spark.sources.ingest import read_feed_table

        raw = os.path.join(self.store, "raw")
        return tuple(
            read_feed_table(self.spark, os.path.join(raw, d), f)
            for d, f in (("acr", "ACR"), ("stb", "STB"),
                         ("geo_weights", "GEO_WEIGHTS")))

    def _warehouse(self):
        from samba_tv_ingest_etl_spark.plans.backfill import Warehouse

        return Warehouse(self.spark, os.path.join(self.store, "model"),
                         layout=Warehouse.SCALE_LAYOUT)

    def setup(self) -> None:
        from samba_tv_ingest_etl_spark.operators.metrics import (
            reach_frequency_rollup,
        )
        from samba_tv_ingest_etl_spark.plans.backfill import (
            backfill,
            v_audience_metrics,
        )
        from samba_tv_ingest_etl_spark.plans.incremental import (
            update_control_table,
        )

        s = self.scale
        self.ev = gen.tv_events(self.seed, s["devices"], s["households"],
                                s["titles"], self.days, s["events_per_day"])
        gen.write_geo(self.stage, self.seed, s["devices"], s["households"],
                      self.days)
        gen.write_event_drops(self.stage, self.ev, range(s["boot_days"]))
        self._ingest()
        acr, stb, geo = self._feeds()
        wh = self._warehouse()
        write = wh.write

        def traced_write(df, table, partition_by=None):
            if table not in self.BACKFILL_TABLES:
                return write(df, table, partition_by)
            with self.tracer.span(f"plans.backfill.{table}"):
                return write(df, table, partition_by)

        wh.write = traced_write
        backfill(wh, acr, stb, geo)
        with self.tracer.span(self.ROLLUP):
            self.rollup = reach_frequency_rollup(
                v_audience_metrics(wh), oracle.ROLLUP_DIMS
            ).select(*oracle.ROLLUP_COLS).collect()
        update_control_table(wh, acr, stb, geo)
        self.drop_bytes = gen.write_event_drops(
            self.stage, self.ev, range(s["boot_days"], self.days))
        self._snapshot(["raw", "ledger", "model"])

    def expect(self) -> None:
        s = self.scale
        args = (self.ev, s["devices"], s["households"], self.days,
                self.seed)
        self.want_boot = oracle.tv_expected(
            gen.tv_oracle_tables(*args, upto_day=s["boot_days"] - 1), True)
        self.want_daily = oracle.tv_expected(
            gen.tv_oracle_tables(*args, upto_day=s["boot_days"]), False)
        self.boot_wm = gen.FIRST_DAY + dt.timedelta(days=s["boot_days"] - 1)

    def _sessions(self) -> list[tuple]:
        return oracle.read_sessions(
            os.path.join(self.store, "model", "viewing_sessions"))

    def setup_problems(self) -> list[str]:
        out = []
        if self._sessions() != self.want_boot["sessions"]:
            out.append("backfill viewing_sessions differ from the oracle")
        if oracle.canon(self.rollup) != self.want_boot["rollup"]:
            out.append("reach/frequency rollup differs from the oracle")
        return out

    def op(self, i: int) -> dict:
        from samba_tv_ingest_etl_spark.plans.incremental import build_dag

        ingested = self._ingest()
        dag = build_dag(self._warehouse(), *self._feeds())
        self.tracer.wrap_tasks(dag, "plans.incremental", self.INC_TASKS)
        res = dag.run()
        res["rows"] = sum(r.rows_loaded for r in ingested.values())
        res["in_bytes"] = self.drop_bytes
        return res

    def check(self, res: dict) -> list[str]:
        if self._sessions() != self.want_daily["sessions"]:
            return ["daily viewing_sessions differ from the one-shot "
                    "chain over all drops"]
        return []

    def counters(self, res: dict, created: list[str]) -> dict[str, float]:
        import duckdb

        model = os.path.join(self.store, "model")
        con = duckdb.connect()
        try:
            recomputed = con.execute(f"""
                WITH w AS (
                  SELECT hh_id, title, content_id, metadata_date
                  FROM read_parquet('{model}/weighted_events/*/*.parquet',
                                    hive_partitioning = true)),
                k AS (SELECT DISTINCT hh_id, title, content_id FROM w
                      WHERE CAST(metadata_date AS DATE) > DATE '{self.boot_wm}')
                SELECT count(*) FROM w JOIN k USING (hh_id, title, content_id)
            """).fetchone()[0]
        finally:
            con.close()
        vs = os.path.join(model, "viewing_sessions") + os.sep
        written = sum(pq.read_metadata(p).num_rows for p in created
                      if p.startswith(vs) and p.endswith(".parquet"))
        return {
            "plans.incremental.recompute_ratio":
                recomputed / max(1, res["update_weighted_events"]),
            "plans.incremental.rewrite_ratio":
                written / max(1, res["update_viewing_sessions"]),
        }


# ---------------------------------------------------------------- curation


class CurationPass(Workload):
    """Set-up lands the bootstrap drop through one curation pass,
    which builds the persisted MinHash band index. The op is one
    ``CurationDag`` pass over the next drop: ingest, dedup against the
    index, eval-span excision, curated append."""

    TASKS = ("curation_ingest", "curation_dedup", "curation_decontaminate",
             "curation_append")
    YIELD = "operators.dedup.candidate_yield"
    spans = tuple(f"plans.curation.{t}" for t in TASKS)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.stage = os.path.join(self.store, "stage")

    def _pass(self) -> dict:
        dag = self.dag.build_dag()
        self.tracer.wrap_tasks(dag, "plans.curation", self.TASKS)
        return dag.run()

    def _cand_pairs(self) -> int:
        from samba_tv_ingest_etl_spark.operators.dedup import lsh_band_stats

        docs = self.spark.read.parquet(
            os.path.join(self.store, "band_index", "docs"))
        return lsh_band_stats(docs)["candidate_pairs"]

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from samba_tv_ingest_etl_spark.operators.text import tokens
        from samba_tv_ingest_etl_spark.plans.curation import CurationDag

        s = self.scale
        self.docs = gen.documents(self.seed, s["boot_docs"], s["daily_docs"])
        evp = os.path.join(self.work, "eval.parquet")
        gen.write_docs(evp, *self.docs["eval"])
        gen.write_docs(os.path.join(self.stage, "day-0000.parquet"),
                       *self.docs["boot"])
        eval_toks = self.spark.read.parquet(evp).select(
            "doc_id", tokens(F.col("text")).alias("toks"))
        self.dag = CurationDag(self.spark, self.store, eval_toks)
        self._pass()
        self.drop_bytes = gen.write_docs(
            os.path.join(self.stage, "day-0001.parquet"),
            *self.docs["daily"])
        self._snapshot(["band_index", "ledger", "curated", "runs"])

    def expect(self) -> None:
        def table(*parts):
            ids = sum((p[0] for p in parts), [])
            text = sum((p[1] for p in parts), [])
            return pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": text})

        # the daily pool contains the bootstrap pool, so this one
        # oracle also covers the set-up pass
        self.want_daily = oracle.curation_expected(
            table(self.docs["boot"], self.docs["daily"]),
            table(self.docs["eval"]))
        if self.tracer.enabled:
            self.boot_cand = self._cand_pairs()

    def _curated(self) -> list[tuple]:
        return oracle.canon(self.dag.curated().collect())

    def op(self, i: int) -> dict:
        res = self._pass()
        res["rows"] = res["curation_ingest"]
        res["in_bytes"] = self.drop_bytes
        return res

    def check(self, res: dict) -> list[str]:
        if self._curated() != self.want_daily:
            return ["curated pool differs from the wholesale oracle"]
        return []

    def counters(self, res: dict, created: list[str]) -> dict[str, float]:
        dropped = res["curation_ingest"] - res["curation_dedup"]
        cand = self._cand_pairs() - self.boot_cand
        return {self.YIELD: dropped / max(1, cand)}


# ---------------------------------------------------------------- ANN


class AnnProbe(Workload):
    """Set-up builds the persisted IVF index (k derived from the
    corpus size). The op answers one batch of queries with
    ``topk_ivf_indexed_hier`` (top-10, nprobe 2); batches rotate.
    ``read_ivf_cells`` is spanned where the probe calls it: the module
    global is swapped for the call."""

    K, NPROBE, PROBE_CELLS = 10, 2, 4
    PROBE = "operators.similarity.topk_ivf_indexed_hier"
    CELLS = "operators.similarity.read_ivf_cells"
    SCORED = "operators.similarity.rows_scored_per_result"
    RECALL = "operators.similarity.recall_at_10"
    spans = (CELLS, PROBE)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from samba_tv_ingest_etl_spark.operators.similarity import (
            derived_cluster_count,
            quantize,
            write_ivf_index,
        )

        s = self.scale
        n, nq = s["vectors"], s["queries"]
        x, qs = gen.embeddings(self.seed, n, nq, s["batches"])
        self.corpus_q, self.queries_q = gen.quantize(x), gen.quantize(qs)
        cpath = os.path.join(self.work, "corpus.parquet")
        qpath = os.path.join(self.work, "queries.parquet")
        gen.write_vectors(cpath, np.arange(n), x)
        self.qid0 = 10**9
        gen.write_vectors(qpath, self.qid0 + np.arange(len(qs)), qs)
        self.index = os.path.join(self.store, "ivf")
        write_ivf_index(
            quantize(self.spark.read.parquet(cpath)), self.index,
            n_centroids=derived_cluster_count(n, 8, 64), iters=2, dim=64,
            train_sample=(1, 4), route_width=4)
        qq = quantize(self.spark.read.parquet(qpath))
        self.batches = [
            qq.filter(F.col("vec_id").between(
                self.qid0 + b * nq, self.qid0 + (b + 1) * nq - 1)
            ).localCheckpoint(eager=True)
            for b in range(s["batches"])
        ]

    def expect(self) -> None:
        self.exact = oracle.exact_topk(self.corpus_q, self.queries_q, self.K)
        if self.tracer.enabled:
            self.scored = self._rows_scored()

    def op(self, i: int) -> dict:
        from samba_tv_ingest_etl_spark.operators import similarity as S

        b = i % len(self.batches)
        orig = S.read_ivf_cells
        S.read_ivf_cells = self.tracer.wrap(self.CELLS, orig)
        try:
            with self.tracer.span(self.PROBE):
                rows = S.topk_ivf_indexed_hier(
                    self.spark, self.index, self.batches[b], k=self.K,
                    nprobe=self.NPROBE,
                    probe_cells=self.PROBE_CELLS).collect()
        finally:
            S.read_ivf_cells = orig
        return {"rows": self.scale["queries"], "in_bytes": 0, "batch": b,
                "result": rows}

    def recall(self, res: dict) -> float:
        got: dict[int, set] = {}
        for r in res["result"]:
            got.setdefault(r["query_id"] - self.qid0, set()).add(
                r["cand_id"])
        nq = self.scale["queries"]
        b = res["batch"]
        hits = sum(len(got.get(q, set()) & set(self.exact[q].tolist()))
                   for q in range(b * nq, (b + 1) * nq))
        return hits / (nq * self.K)

    def check(self, res: dict) -> list[str]:
        out = []
        counts: dict[int, int] = {}
        for r in res["result"]:
            counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
        nq = self.scale["queries"]
        if len(counts) != nq or set(counts.values()) != {self.K}:
            out.append(f"expected {self.K} rows for each of {nq} queries")
        rec = self.recall(res)
        res["recall"] = rec
        if rec < RECALL_FLOOR:
            out.append(f"recall@10 {rec:.3f} below floor {RECALL_FLOOR}")
        return out

    def _rows_scored(self) -> list[float]:
        """Per batch: candidate rows the probe scores per result row,
        replaying the two-level routing over the persisted codebook."""
        def read(sub):
            t = pq.read_table(os.path.join(self.index, sub))
            return (np.array(t.column("c").to_pylist()),
                    np.array(t.column("cv").to_pylist(), dtype=np.int64),
                    np.array(t.column("cn").to_pylist(), dtype=np.int64),
                    t)

        gc, gv, gn, _ = read("cells")
        cc, cv, cn, ct = read("centroids")
        cell_of = dict(zip(cc.tolist(), ct.column("cell").to_pylist()))
        vt = pq.read_table(os.path.join(self.index, "vectors"),
                           columns=["cluster"])
        sizes = np.bincount(np.array(vt.column("cluster").to_pylist()),
                            minlength=int(cc.max()) + 1)
        out = []
        nq = self.scale["queries"]
        for b in range(self.scale["batches"]):
            q = self.queries_q[b * nq:(b + 1) * nq]
            d = (q * q).sum(1)[:, None] - 2 * q @ gv.T + gn[None, :]
            routed = set()
            for row in d:
                order = np.lexsort((gc, row))[: self.PROBE_CELLS]
                routed |= set(gc[order].tolist())
            sub = np.array([int(cell_of[c]) in routed for c in cc.tolist()])
            sc, sv, sn = cc[sub], cv[sub], cn[sub]
            d = (q * q).sum(1)[:, None] - 2 * q @ sv.T + sn[None, :]
            scored = 0
            for row in d:
                order = np.lexsort((sc, row))[: self.NPROBE]
                scored += int(sizes[sc[order]].sum())
            out.append(scored / (nq * self.K))
        return out

    def counters(self, res: dict, created: list[str]) -> dict[str, float]:
        return {self.SCORED: self.scored[res["batch"]],
                self.RECALL: res["recall"]}


# ---------------------------------------------------------------- LLM data


class LlmDaily(Workload):
    """The LLM-data daily cycle: one curation pass over the new
    document drop, then one batch of nearest-neighbour probes against
    the embedding index. Both starting states are built in set-up."""

    name = "llm_daily"
    spans = CurationPass.spans + AnnProbe.spans

    def __init__(self, spark, work: str, seed: int, scale: dict, tracer):
        super().__init__(spark, work, seed, scale, tracer)
        self.cur = CurationPass(spark, os.path.join(work, "curation"),
                                seed, scale, tracer)
        self.ann = AnnProbe(spark, os.path.join(work, "ann"), seed, scale,
                            tracer)
        self.store = self.cur.store

    def setup(self) -> None:
        self.cur.setup()
        self.ann.setup()

    def expect(self) -> None:
        self.cur.expect()
        self.ann.expect()

    def restore(self) -> None:
        self.cur.restore()

    def op(self, i: int) -> dict:
        res = self.cur.op(i)
        probe = self.ann.op(i)
        return {**res, "rows": res["rows"] + probe["rows"], "probe": probe}

    def check(self, res: dict) -> list[str]:
        return self.cur.check(res) + self.ann.check(res["probe"])

    def counters(self, res: dict, created: list[str]) -> dict[str, float]:
        return {**self.cur.counters(res, created),
                **self.ann.counters(res["probe"], created)}


WORKLOADS = {w.name: w for w in (TvDaily, LlmDaily)}
