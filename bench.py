#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
result JSON twice: a verbose line (timings + spreads + loadavg
context) followed by a COMPACT final line {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...} — the
driver captures only the tail of stdout, so the last line must fit
its 2,000-char window (BENCH_r10 post-mortem).

Each query is forced end-to-end with the noop sink (full computation,
no driver collect, no result materialization cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from samba_tv_ingest_etl_spark import queries as Q  # noqa: E402
from samba_tv_ingest_etl_spark.session import get_spark  # noqa: E402

# Headline set: flagship pipeline stages + the heaviest operators.
# 30 queries (q129 indexed incremental dedup / q130 banded ANN /
# q131 full curation pipeline / q133 persisted IVF probe / q135
# incremental SemDeDup joined in round 10; q124, q125, q127, q128
# in r9, q121/q123 in r8, q115/q117 in r6) — round-over-round
# totals compare the first 16 (the r1-r5 set), first 18 (r6-r7) or
# first 20 (r8); per-query history is directly comparable
# throughout.
HEADLINE = [
    "q13_session_ids",
    "q14_sessions",
    "q17_affected_key_recompute",
    "q21_ngram_jaccard_pairs",
    "q22_minhash_lsh_dedup",
    "q24_embedding_neardup_pairs",
    "q25_ann_topk_bruteforce",
    "q26_ann_topk_lsh",
    "q32_ann_topk_ivf",
    "q33_reach_frequency_rollup",
    "q46_top_characteristic_terms",
    "q48_dedup_components",
    "q58_training_data_prep",
    "q76_semdedup_drops",
    "q87_curriculum_order",
    "q115_substring_span_dedup",
    "q117_dsir_importance_resample",
    "q121_containment_pairs",
    "q123_semantic_decontamination_lsh",
    "q124_containment_survivors",
    "q125_ann_recall_audit",
    "q127_eval_span_excision",
    "q128_curation_pipeline",
    # r10 joiners — sf1->sf10 rows in SCALING_r10_queries.md BEFORE
    # joining (q132/q134 measured there but stay out: streaming /
    # append-variant)
    "q129_indexed_incremental_dedup",
    "q130_ann_topk_lsh_banded",
    "q131_full_curation_pipeline",
    "q133_ivf_index_persisted",
    "q135_semdedup_increment",
    # r11 joiner — sf1->sf10 row in SCALING_r11.md (2.85x) BEFORE
    # joining; q137 measured there too but stays out by the q61
    # precedent (whole-DAG replay per call: a composition surface,
    # not a throughput one)
    "q136_ann_banded_index_persisted",
    # r12 joiner — sf1->sf10 gate row 3.17x (SCALING_r12.md) BEFORE
    # joining: the probe through the persisted cells/ level, which
    # pulls O(sqrt(k)) codebook rows per routed cell. q139 measured
    # there too but stays out (append variant, the q134 precedent)
    "q140_ivf_hier_codebook_probe",
]

# a query's samples must agree within this max/min ratio (best 3 of
# up to 12) or the emitted number is flagged noisy
SPREAD_GATE = 1.25


def _best3_spread(samples: list[float]) -> float:
    best = sorted(samples)[:3]
    return max(best) / max(min(best), 1e-9)


def host_speed_canary(spark, runs: int = 3) -> float:
    """Fixed CPU-bound JVM reference job (no shuffle, no Python, no
    I/O): min-of-N seconds for a deterministic 20B-row codegen sum (~1-2 s idle).
    Round-over-round, the canary ratio calibrates BOX speed — the
    failure mode the loadavg gate cannot see (r12 finding: guest
    loadavg 0.0 and per-query spreads under 1.1 while the host ran
    ~25% slower than five hours earlier — q22, untouched code,
    1.93 s -> 2.42 s; the canary makes that visible in the artifact
    instead of reading as an engine regression)."""
    import time as _t

    best = float("inf")
    for _ in range(runs):
        t0 = _t.perf_counter()
        spark.range(0, 20_000_000_000, 1, 32).selectExpr(
            "sum(id % 1000003) AS s"
        ).collect()
        best = min(best, _t.perf_counter() - t0)
    return best


def host_io_canary(runs: int = 3, mb: int = 64) -> float:
    """Fixed fdatasync write microbench: min-of-N seconds to write
    `mb` MB (1 MB buffers) to a fresh /tmp file and fdatasync it.
    Companion to the CPU canary — the r13 measurement finding: two
    same-code idle runs at near-equal CPU canary (1.508 vs 1.459)
    totaled 54.6 vs 60.5 s, the divergence concentrated in the
    index-writing lifecycle queries (q129 1.68x, q136 1.40x...); the
    CPU-bound canary is blind to host I/O-window drift, which on this
    box swings disk-heavy queries 1.3-1.7x between adjacent idle runs.
    Round-over-round comparisons of lifecycle queries must be
    qualified by BOTH canaries: divide each query's seconds by the
    matching canary of its own run before comparing."""
    import tempfile
    import time as _t

    buf = os.urandom(1 << 20)
    best = float("inf")
    for _ in range(runs):
        fd, path = tempfile.mkstemp(prefix="io_canary_", dir="/tmp")
        try:
            t0 = _t.perf_counter()
            for _ in range(mb):
                os.write(fd, buf)
            os.fdatasync(fd)
            best = min(best, _t.perf_counter() - t0)
        finally:
            os.close(fd)
            os.unlink(path)
    return best


def sample_query(
    spark, fn, sf_dir: str, runs: int = 3, max_samples: int = 12
) -> tuple[float, float, bool]:
    """THE timing discipline, shared by bench.py and the scale
    harness so no committed artifact can bypass it: one warm run
    (whole-stage-codegen compile is a one-time driver cost that would
    otherwise dominate), then best-of-N with cache cleared per run,
    re-sampling in batches until the spread of the 3 BEST samples —
    the ones the emitted min comes from — settles under SPREAD_GATE
    or ``max_samples`` is hit. Returns (best, best3_spread, noisy)."""
    import time as _t

    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    def timed(n: int) -> list[float]:
        out = []
        for _ in range(n):
            spark.catalog.clearCache()
            t0 = _t.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out.append(_t.perf_counter() - t0)
        return out

    samples = timed(runs)
    while (
        _best3_spread(samples) > SPREAD_GATE
        and len(samples) < max_samples
    ):
        samples += timed(runs)
    spread = _best3_spread(samples)
    return min(samples), spread, spread > SPREAD_GATE


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")

    registry = Q.registry()
    names = list(HEADLINE)  # every name is registered (test_imports)

    # Idle-box gate, BEFORE the warm-up (our own warm-up inflates the
    # 1m loadavg, which would both trip the gate spuriously and make
    # the recorded number measure ourselves). BENCH_r04 post-mortem:
    # committed on a box at loadavg 5.61, understating the engine
    # ~7%. BENCH_r06 post-mortem: the 2-min max wait expired and a
    # contended 24.73 s number was committed (judge's idle re-run:
    # 23.76 s) — the round-over-round comparison measured the box,
    # not the round. Wait up to ~10 min now (30 x 20 s): a committed
    # artifact is worth minutes; if the box never idles, still emit —
    # flagged "contended": true so the artifact says so.
    load_gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "3.0"))
    contended = os.getloadavg()[0] > load_gate
    for _ in range(30):
        if not contended:
            break
        print(
            f"loadavg {os.getloadavg()[0]:.2f} > gate {load_gate}; "
            "waiting 20s for an idle box...",
            file=sys.stderr,
        )
        time.sleep(20)
        contended = os.getloadavg()[0] > load_gate
    load_before = os.getloadavg()

    # warm the JVM/codegen AND the Python/Arrow worker pool so timings
    # measure the engine, not process startup
    registry[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(1000).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    canary = round(host_speed_canary(spark), 3)
    io_canary = round(host_io_canary(), 3)

    # Per query: warm + spread-disciplined best-of sampling
    # (``sample_query`` — shared with tools/scale_check.py so every
    # committed artifact carries the same integrity rules). BENCH_r05
    # post-mortem: the loadavg gate passed but per-query spreads of
    # 1.40/1.33 shipped and the committed total overstated an
    # idle-box re-run by ~10%; the noisy flag marks any number whose
    # best-3 spread never settled under the gate (compared UNROUNDED
    # — round(1.2535, 2) == 1.25 would slip past the > gate check).
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    noisy: dict[str, bool] = {}
    for name in names:
        best, spread, is_noisy = sample_query(
            spark, registry[name], sf_dir
        )
        timings[name] = round(best, 4)
        spreads[name] = round(spread, 2)
        if is_noisy:
            noisy[name] = True

    load_after = os.getloadavg()
    out = {
        "metric": "headline_queries_wall_clock",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # contention context: loadavg around the run and, per query,
        # the max/min spread of the 3 BEST samples (the ones closest
        # to the emitted min). A query still spread beyond the gate
        # after 12 samples is listed under "noisy" — its number may
        # overstate the engine's cost.
        "loadavg_1m_before": round(load_before[0], 2),
        "loadavg_1m_after": round(load_after[0], 2),
        "contended": contended,
        # fixed CPU-bound JVM reference (host_speed_canary): compare
        # across artifacts to separate box-speed drift from engine
        # regressions — loadavg cannot see host-level throttling
        "canary_sec": canary,
        # fdatasync write reference (host_io_canary): the I/O-side
        # qualifier the CPU canary cannot provide (r13 finding)
        "io_canary_sec": io_canary,
        "spread": spreads,
        "noisy": sorted(noisy),
    }
    # Two output lines, verbose then COMPACT-LAST: the driver records
    # only the tail of stdout (2,000 chars — BENCH_r10 post-mortem:
    # the single verbose line with 30 queries + spreads overflowed it
    # and the committed artifact parsed as null). The verbose line
    # (spreads, loadavg context) comes first for humans and local
    # artifacts; the LAST line carries everything round-over-round
    # tooling compares, minified, with a loud warning if it ever
    # approaches the capture window.
    print(json.dumps(out))
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "contended",
            "canary_sec", "io_canary_sec", "noisy",
        )
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:
        print(
            f"WARNING: compact bench line is {len(line)} chars — "
            "nearing the driver's 2,000-char stdout tail; trim the "
            "HEADLINE or shorten query names",
            file=sys.stderr,
        )
    print(line)


if __name__ == "__main__":
    main()
