"""Span recorder and Spark counter attribution for the traced run.

Spans are recorded only from the benchmark's own files, around calls
into the engine's public functions (or a ``TaskDag`` task /
``Warehouse.write`` wrapped from the outside). Each span tags the
Spark jobs it launches with a job group (``spark.jobGroup.id`` =
``pb:<span id>``). After the session stops, the event log is parsed
and every job is attributed to its span: by job group when the tag is
present, else to the innermost span whose interval contains the job's
submission time (jobs that engine code launches from its own worker
threads do not inherit the caller's local properties). Per span the
recorder reports wall time, jobs, tasks, executor busy fraction,
shuffle bytes written and output bytes written.

Everything stays in memory until ``per_layer`` runs at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("wall_s", "jobs", "tasks", "busy_frac", "shuffle_bytes",
            "output_bytes")
_GROUP = "spark.jobGroup.id"


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's ``span``
    is a no-op, so the same workload code serves both runs."""

    def __init__(self, spark, cores: int, enabled: bool):
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = enabled
        self.phase = "setup"
        self.op_index = -1
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = f"pb:{len(self.spans)}"
        rec = {"id": sid, "name": name, "phase": self.phase,
               "op": self.op_index, "t0": time.time() * 1000.0,
               "depth": len(self._stack)}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(_GROUP, sid)
        try:
            yield
        finally:
            rec["t1"] = time.time() * 1000.0
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP, self._stack[-1] if self._stack else None)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def wrap_tasks(self, dag, prefix: str, names) -> None:
        """Wrap the named ``TaskDag`` tasks in spans ``prefix.name``."""
        for n in names:
            dag.tasks[n].fn = self.wrap(f"{prefix}.{n}", dag.tasks[n].fn)

    def per_layer(self, event_dir: str, names: list[str]) -> dict:
        """``<span>.<counter>`` for every span name in ``names``:
        the per-op mean over traced ops when the span ran inside ops,
        else its set-up value; 0 for spans this workload never ran."""
        jobs, stage_job, tasks = _parse_event_log(event_dir)
        by_id = {s["id"]: s for s in self.spans}
        owner: dict[int, str] = {}
        for jid, (submit, group) in jobs.items():
            if group in by_id:
                owner[jid] = group
                continue
            inner = None
            for s in self.spans:
                if s["t0"] <= submit <= s.get("t1", s["t0"]) and (
                        inner is None or s["depth"] > inner["depth"]):
                    inner = s
            if inner is not None:
                owner[jid] = inner["id"]
        acc = {s["id"]: {"jobs": 0, "tasks": 0, "run_ms": 0.0,
                         "shuffle_bytes": 0, "output_bytes": 0}
               for s in self.spans}
        for jid, sid in owner.items():
            acc[sid]["jobs"] += 1
        for stage, metrics in tasks.items():
            sid = owner.get(stage_job.get(stage, -1))
            if sid is None:
                continue
            a = acc[sid]
            a["tasks"] += metrics["tasks"]
            a["run_ms"] += metrics["run_ms"]
            a["shuffle_bytes"] += metrics["shuffle_bytes"]
            a["output_bytes"] += metrics["output_bytes"]
        out = {}
        for name in names:
            mine = [s for s in self.spans if s["name"] == name]
            ops = [s for s in mine if s["phase"] == "op"]
            chosen = ops or mine
            n_ops = len({s["op"] for s in ops}) or 1
            wall = sum(s["t1"] - s["t0"] for s in chosen)
            a = defaultdict(float)
            for s in chosen:
                for k, v in acc[s["id"]].items():
                    a[k] += v
            out[f"{name}.wall_s"] = (wall / 1000.0 / n_ops, "s")
            out[f"{name}.jobs"] = (a["jobs"] / n_ops, "count")
            out[f"{name}.tasks"] = (a["tasks"] / n_ops, "count")
            out[f"{name}.busy_frac"] = (
                a["run_ms"] / (wall * self.cores) if wall else 0.0, "ratio")
            out[f"{name}.shuffle_bytes"] = (
                a["shuffle_bytes"] / n_ops, "bytes")
            out[f"{name}.output_bytes"] = (
                a["output_bytes"] / n_ops, "bytes")
        return out


def _parse_event_log(event_dir: str):
    """(job -> (submission ms, job group), stage -> job,
    stage -> task counters) from every event log in ``event_dir``."""
    jobs: dict[int, tuple[float, str | None]] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "run_ms": 0.0, "shuffle_bytes": 0,
                 "output_bytes": 0})
    for path in glob.glob(os.path.join(event_dir, "**", "events_*"),
                          recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = (float(ev["Submission Time"]),
                                 props.get(_GROUP))
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = tasks[ev["Stage ID"]]
                    t["tasks"] += 1
                    t["run_ms"] += m.get("Executor Run Time", 0)
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                           or {}).get("Shuffle Bytes Written", 0)
                    t["output_bytes"] += (m.get("Output Metrics")
                                          or {}).get("Bytes Written", 0)
    return jobs, stage_job, tasks


# ---------------------------------------------------------------- process


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python process plus its JVM child."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def file_sizes(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, inode, mtime) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def created_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new (or replaced) in ``after``."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)
