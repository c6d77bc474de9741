"""Benchmark entry point.

    python3 perfbench/run.py --workload tv_daily --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. One run: pin the environment, start a
Spark session on ``local[nproc]``, generate the seeded inputs, set up
(timed as ``setup_s``), compute the expected results, then repeat the
workload's timed operation as a closed loop with one client (the next
op starts when the previous one has returned) until ``--seconds`` have
passed, checking every op's output. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` turns on the Spark event log and the
span recorder and prints the per-layer metrics instead. The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--scale tiny`` shrinks every input (the smoke test's mode). All
files live under ``.bench_work/`` in the repository root and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "samba_tv_ingest_etl_spark"
DRIVER_HEAP = "1g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="default")
    return p.parse_args(argv)


def _pin_env(work: str, cores: int) -> dict:
    """Everything the run inherits, pinned and recorded: the engine's
    own defaults (32 cores, a 16g heap) do not fit a small machine."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH", "")
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Arrow/pandas UDF workers import the engine by module path
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        # no /tmp/hsperfdata files, from the launcher JVM either
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_CONF_DIR", None)
    return env


def _session(work: str, cores: int, traced: bool):
    from samba_tv_ingest_etl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_HEAP}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in order."""
    from perfbench.trace import COUNTERS
    from perfbench.workloads import WORKLOADS

    units = {"wall_s": ("s", "lower"), "jobs": ("count", "lower"),
             "tasks": ("count", "lower"), "busy_frac": ("ratio", "higher"),
             "shuffle_bytes": ("bytes", "lower"),
             "output_bytes": ("bytes", "lower")}
    out = []
    for w in WORKLOADS.values():
        for s in w.spans:
            out += [(f"{s}.{c}",) + units[c] for c in COUNTERS]
    out += [
        ("plans.incremental.recompute_ratio", "ratio", "lower"),
        ("plans.incremental.rewrite_ratio", "ratio", "lower"),
        ("operators.dedup.candidate_yield", "ratio", "higher"),
        ("operators.similarity.rows_scored_per_result", "ratio", "lower"),
        ("operators.similarity.recall_at_10", "ratio", "higher"),
        ("sources.writer.write_amp", "ratio", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


def run(args, work: str) -> dict:
    from perfbench import trace
    from perfbench.workloads import SCALES, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    env = _pin_env(work, cores)
    traced = bool(args.trace)
    t_start = time.perf_counter()
    spark = _session(work, cores, traced)
    session_s = time.perf_counter() - t_start
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        print(f"# env local[{cores}] heap={DRIVER_HEAP} "
              f"python={sys.version.split()[0]} spark={spark.version} "
              + " ".join(f"{k}={v}" for k, v in sorted(env.items())
                         if k in ("SPARK_LOCAL_DIRS", "PYTHONPATH")))
        tracer = trace.Tracer(spark, cores, traced)
        w = WORKLOADS[args.workload](spark, work, args.seed,
                                     SCALES[args.scale], tracer)
        t0 = time.perf_counter()
        w.setup()
        setup_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        w.expect()
        problems = w.setup_problems()
        expect_s = time.perf_counter() - t1
        for p in problems:
            print(f"# setup check failed: {p}", file=sys.stderr)

        walls, untraced, rows, wamp, layer = [], [], 0, [], {}
        attempted = failed = 0
        i = 0
        start = time.perf_counter()
        while True:
            w.restore()
            os.sync()  # no writeback of the restored copy inside the op
            before = trace.file_sizes(w.store)
            # traced run: odd ops run with the span hooks off, for the
            # tracing-overhead figure; op 0, the op an untraced run
            # reports, is traced
            hooks = traced and i % 2 == 0
            tracer.enabled = hooks
            tracer.phase, tracer.op_index = "op", i
            attempted += 1
            t = time.perf_counter()
            try:
                res = w.op(i)
                dt_ = time.perf_counter() - t
                bad = w.check(res)
            except Exception:
                dt_ = time.perf_counter() - t
                traceback.print_exc()
                res, bad = None, ["raised"]
            tracer.enabled = traced
            tracer.phase = "post"
            if bad:
                failed += 1
                for p in bad:
                    print(f"# op {i} failed: {p}", file=sys.stderr)
            else:
                print(f"# op {i} wall {dt_:.3f}s", file=sys.stderr)
                (walls if hooks or not traced else untraced).append(dt_)
                rows += res["rows"]
                after = trace.file_sizes(w.store)
                if res["in_bytes"]:
                    wamp.append(trace.created_bytes(before, after)
                                / res["in_bytes"])
                if hooks:
                    created = [p for p, v in after.items()
                               if before.get(p) != v]
                    for k, v in w.counters(res, created).items():
                        layer.setdefault(k, []).append(v)
            i += 1
            elapsed = time.perf_counter() - start
            if elapsed >= args.seconds and (not traced or i >= 2):
                break
        rss = trace.peak_rss_mb(jvm_pid)
        measure_s = time.perf_counter() - start
    finally:
        t2 = time.perf_counter()
        _stop(spark)
    print(f"# phases session_start={session_s:.2f}s setup={setup_s:.2f}s "
          f"oracle_and_setup_check={expect_s:.2f}s measure={measure_s:.2f}s "
          f"stop={time.perf_counter() - t2:.2f}s")

    ok_walls = walls + untraced
    p50 = statistics.median(walls) if walls else 0.0
    total = sum(ok_walls)
    summary = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (p50, "s"),
        "rows_per_s": (rows / total if total else 0.0, "rows/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    report = dict(summary)
    report["failed_frac"] = (failed / attempted, "ratio")
    report["write_amp"] = (statistics.median(wamp) if wamp else 0.0, "ratio")
    if "operators.similarity.recall_at_10" in layer:
        report["recall_at_10"] = (
            statistics.mean(layer["operators.similarity.recall_at_10"]),
            "ratio")
    print(f"# {args.workload} seed={args.seed} scale={args.scale} "
          f"trace={args.trace} ops={attempted} failed={failed} "
          f"op_p50_s samples={len(walls)}")
    for k, (v, u) in report.items():
        print(f"# {args.workload} {k} = {v:.6g} {u}")

    if traced:
        names = per_layer_names()
        span_names = sorted({n.rsplit(".", 1)[0] for n, _, _ in names
                             if n.rsplit(".", 1)[1] in trace.COUNTERS})
        spans = tracer.per_layer(os.path.join(work, "events"), span_names)
        extra = {k: (statistics.mean(v), "") for k, v in layer.items()}
        extra["sources.writer.write_amp"] = (report["write_amp"][0], "")
        extra["trace.overhead_s"] = (
            p50 - statistics.median(untraced) if untraced else 0.0, "")
        metrics = {}
        for n, unit, _ in names:
            v = spans.get(n) or extra.get(n) or (0.0, "")
            metrics[n] = _metric(v[0], unit)
        print(f"# {args.workload} trace.overhead_s = "
              f"{extra['trace.overhead_s'][0]:.6g} s (traced op p50 "
              f"{p50:.6g} s minus hooks-off op p50)")
    else:
        metrics = {k: _metric(v, u) for k, (v, u) in summary.items()}
    correct = not problems and failed == 0
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import SCALES, WORKLOADS

    if args.workload not in WORKLOADS or args.scale not in SCALES:
        print(f"unknown workload or scale; workloads: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
