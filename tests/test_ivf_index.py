"""Persisted IVF index: the at-rest path must be bit-identical to
the inline ``topk_ivf`` (same codebook, shared probe stage), appends
under a frozen codebook must equal a wholesale write, and the probe
must physically prune to the probed cluster partitions."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from samba_tv_ingest_etl_spark.operators import similarity as S

from .conftest import count_jobs

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark):
    return (
        S.quantize(spark.read.parquet(SF_DIR + "/embeddings.parquet"))
        .filter(F.col("norm2") > 0)
        .localCheckpoint(eager=True)
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["cand_id"], r["rank"], r["cos_scaled"])
        for r in df.collect()
    )


def _codebook(spark, path):
    """The whole at-rest codebook: every cell's sub-codebook."""
    return S._read_sub_codebook(
        spark, path, sorted(S.read_ivf_cells(spark, path))
    )[0]


def _vector_rows(spark, path):
    return sorted(
        (r["vec_id"], r["cluster"], r["cell"])
        for r in S._read_vectors(spark, path).collect()
    )


def test_indexed_probe_matches_inline(spark, tmp_path):
    q = _corpus(spark)
    probes = q.filter(F.col("vec_id") < 10)
    inline = S.topk_ivf(
        q, probes, k=10, n_centroids=8, iters=2, nprobe=2,
        train_sample=(1, 4), route_width=4,
    )
    path = str(tmp_path / "ivf")
    S.write_ivf_index(
        q, path, n_centroids=8, iters=2,
        train_sample=(1, 4), route_width=4,
    )
    indexed = S.topk_ivf_indexed_hier(
        spark, path, probes, k=10, nprobe=2, probe_cells=None
    )
    assert _rows(indexed) == _rows(inline)


@pytest.mark.parametrize("route_width", [None, 4])
def test_append_equals_wholesale(spark, tmp_path, route_width):
    """Assignment is per-row given the codebook, so write(part1) +
    append(part2) must be bit-identical to write(whole) — the
    increments≡wholesale property, ported from the dedup index. The
    append routes through cells/ and reads only the routed cells'
    sub-codebooks, so the equal vectors/ rows also pin that this
    reads every centroid the kernel can score."""
    q = _corpus(spark)
    probes = q.filter(F.col("vec_id") < 10)
    cents = S.kmeans_centroids(q, k=8, iters=2, train_sample=(1, 4))

    whole = str(tmp_path / "whole")
    S.write_ivf_index(q, whole, cents=cents, route_width=route_width)

    parts = str(tmp_path / "parts")
    S.write_ivf_index(
        q.filter(F.col("vec_id") % 2 == 0), parts,
        cents=cents, route_width=route_width,
    )
    S.append_ivf_index(
        q.filter(F.col("vec_id") % 2 == 1), parts,
        route_width=route_width,
    )
    got_rows = _vector_rows(spark, parts)
    assert got_rows == _vector_rows(spark, whole) and len(got_rows) > 0

    got = S.topk_ivf_indexed_hier(
        spark, parts, probes, k=10, nprobe=2, probe_cells=None
    )
    want = S.topk_ivf_indexed_hier(
        spark, whole, probes, k=10, nprobe=2, probe_cells=None
    )
    assert _rows(got) == _rows(want)


def test_probe_prunes_partitions(spark, tmp_path):
    """The probed clusters' coarse cells must reach the scan as a
    PARTITION filter (directory pruning) with the cluster ids pushed
    as an in-file data filter — the physical form of 'a query
    touches nprobe partitions' under the two-level layout (the flat
    cluster-partitioned first cut measured pathological at derived
    k: 3,125 directories of tiny files at sf10, SCALING_r10)."""
    q = _corpus(spark)
    probes = q.filter(F.col("vec_id") < 2)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2)
    plan = (
        S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, nprobe=2, probe_cells=None
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan[:2000]
    assert re.search(r"PushedFilters: \[[^\]]*[Ii]n\(cluster", plan), (
        plan[:2000]
    )


def test_semdedup_increment_sequential_equals_union(spark, tmp_path):
    """Two ordered increments (each appending) must equal one
    increment of their union when the first batch's ids are lower —
    the same increments≡wholesale shape the MinHash index pins."""
    q = _corpus(spark)
    cents = S.kmeans_centroids(q, k=8, iters=2, train_sample=(1, 4))
    idx_side = q.filter(F.col("vec_id") % 3 == 0)
    batch = q.filter(F.col("vec_id") % 3 != 0)
    b1 = batch.filter(F.col("vec_id") < 100)
    b2 = batch.filter(F.col("vec_id") >= 100)

    seq = str(tmp_path / "seq")
    S.write_ivf_index(idx_side, seq, cents=cents, route_width=4)
    s1 = S.semdedup_increment_against_index(
        b1, seq, threshold_pct=35, route_width=4
    )
    s2 = S.semdedup_increment_against_index(
        b2, seq, threshold_pct=35, route_width=4
    )
    got = sorted(
        r["vec_id"] for r in s1.unionByName(s2).collect()
    )

    uni = str(tmp_path / "uni")
    S.write_ivf_index(idx_side, uni, cents=cents, route_width=4)
    want = sorted(
        r["vec_id"]
        for r in S.semdedup_increment_against_index(
            batch, uni, threshold_pct=35, route_width=4
        ).collect()
    )
    assert got == want and len(want) > 0


_PROBES = {
    "hier": lambda spark, path, probes: S.topk_ivf_indexed_hier(
        spark, path, probes, k=10, nprobe=2
    ),
}


@pytest.mark.parametrize("probe", sorted(_PROBES))
def test_probe_neutral_to_replayed_append(spark, tmp_path, probe):
    """A RETRIED append (crash before the caller's ledger commit)
    leaves bit-identical duplicate rows in vectors/; the probe must
    rank as if the append ran once — without the probe stage's
    (query_id, cand_id) dedup a duplicated vector takes two
    row_number ranks and displaces a genuine neighbor (r10 advice)."""
    run = _PROBES[probe]
    q = _corpus(spark)
    probes = q.filter(F.col("vec_id") < 10)
    cents = S.kmeans_centroids(q, k=8, iters=2, train_sample=(1, 4))
    once = str(tmp_path / "once")
    S.write_ivf_index(
        q.filter(F.col("vec_id") % 2 == 0), once,
        cents=cents, route_width=4,
    )
    batch = q.filter(F.col("vec_id") % 2 == 1)
    S.append_ivf_index(batch, once, route_width=4)
    want = _rows(run(spark, once, probes))

    twice = str(tmp_path / "twice")
    S.write_ivf_index(
        q.filter(F.col("vec_id") % 2 == 0), twice,
        cents=cents, route_width=4,
    )
    S.append_ivf_index(batch, twice, route_width=4)
    S.append_ivf_index(batch, twice, route_width=4)  # the replay
    got = _rows(run(spark, twice, probes))
    assert got == want


def test_prune_to_clusters_semi_join_equals_literals(spark, tmp_path):
    """Past ISIN_LITERAL_CAP the in-file cluster test switches from a
    literal IN to a broadcast semi-join; both are exact membership
    tests, so a deliberately wide cluster spread (cap forced to 1)
    must return identical rows AND keep the cell partition filter."""
    q = _corpus(spark)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2)
    vectors = S._read_vectors(spark, path)
    clusters = sorted(
        r["cluster"]
        for r in vectors.select("cluster").distinct().collect()
    )
    cells = sorted(
        r["cell"] for r in vectors.select("cell").distinct().collect()
    )
    lit = S._prune_to_clusters(
        vectors, cells, clusters, isin_cap=len(clusters)
    )
    semi = S._prune_to_clusters(vectors, cells, clusters, isin_cap=1)
    key = lambda r: (r["vec_id"], r["cluster"])  # noqa: E731
    assert sorted(map(key, semi.collect())) == sorted(
        map(key, lit.collect())
    )
    plan = semi._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan[:2000]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]


def test_codebook_guard_raises(spark, tmp_path, monkeypatch):
    """The codebook reader (_read_sub_codebook) must refuse a pull
    past MAX_CODEBOOK_ROWS loudly — the MAX_TRAIN_ROWS pattern
    applied to the driver pull that grows with derived k. An append
    at route_width=None routes through every cell, so it pulls all
    8 centroids."""
    q = _corpus(spark)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2)
    monkeypatch.setattr(S, "MAX_CODEBOOK_ROWS", 7)
    with pytest.raises(ValueError, match="MAX_CODEBOOK_ROWS=7"):
        S.append_ivf_index(
            q.filter(F.col("vec_id") < 10), path, route_width=None
        )


def test_semdedup_increment_replay_identical(spark, tmp_path):
    """A replay after the append (crash window) must be
    bit-identical: the index side excludes the batch's own ids."""
    q = _corpus(spark)
    cents = S.kmeans_centroids(q, k=8, iters=2, train_sample=(1, 4))
    path = str(tmp_path / "ivf")
    S.write_ivf_index(
        q.filter(F.col("vec_id") % 3 == 0), path,
        cents=cents, route_width=4,
    )
    batch = q.filter(F.col("vec_id") % 3 != 0)
    first = sorted(
        r["vec_id"]
        for r in S.semdedup_increment_against_index(
            batch, path, threshold_pct=35, route_width=4
        ).collect()
    )
    replay = sorted(
        r["vec_id"]
        for r in S.semdedup_increment_against_index(
            batch, path, threshold_pct=35, route_width=4
        ).collect()
    )
    assert replay == first


def test_semdedup_increment_reads_only_routed_sub_codebooks(
    spark, tmp_path, monkeypatch
):
    """At route_width=4 the increment pulls only the centroids of
    the cells its batch routes to — fewer than the whole codebook —
    and its survivors equal the all-cells (route_width=None) run's on
    this corpus."""
    q = _corpus(spark)
    cents = S.kmeans_centroids(q, k=64, iters=2, train_sample=(1, 4))
    batch = q.filter(F.col("vec_id") % 100 == 1)
    pulled = []
    read = S._read_sub_codebook

    def recording(spark, path, cells):
        out = read(spark, path, cells)
        pulled.append(len(out[0]))
        return out

    monkeypatch.setattr(S, "_read_sub_codebook", recording)
    survivors = {}
    for width in (4, None):
        path = str(tmp_path / f"ivf_{width}")
        S.write_ivf_index(
            q.filter(F.col("vec_id") % 100 != 1), path,
            cents=cents, route_width=width,
        )
        pulled.clear()
        survivors[width] = sorted(
            (r["vec_id"], r["cluster"])
            for r in S.semdedup_increment_against_index(
                batch, path, threshold_pct=35, route_width=width
            ).collect()
        )
        assert len(pulled) == 1
        if width is None:
            assert pulled == [len(cents)]
        else:
            assert 0 < pulled[0] < len(cents)
    assert survivors[4] == survivors[None] and survivors[4]


# ---------------------------------------------------------------------
# hierarchical codebook (r11 verdict #4): O(√k) driver pulls for probe
# and append, exactness pinned against the flat-codebook paths.


def test_hier_probe_all_cells_equals_flat(spark, tmp_path):
    """probe_cells=None routes through ALL cells, so the sub-codebook
    union is the full codebook and the hierarchical probe must equal
    the inline probe over the same (flat) codebook EXACTLY — the
    pure-plumbing identity that holds on any data."""
    q = _corpus(spark)
    probes = q.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2, route_width=4)
    flat = _rows(
        S.topk_ivf(
            q, probes, k=10, n_centroids=8, iters=2, nprobe=2,
            route_width=4,
        )
    )
    hier = _rows(
        S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, nprobe=2, probe_cells=None
        )
    )
    assert hier == flat and len(flat) > 0


def test_hier_probe_shipped_width_equals_flat(spark, tmp_path):
    """At the shipped probe width the routed cells must cover the
    true nprobe nearest centroids on the test corpus — the
    data-dependent equality q140 also pins through DuckDB. The
    all-cells probe reads the whole codebook."""
    q = _corpus(spark)
    probes = q.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2, route_width=4)
    flat = _rows(
        S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, nprobe=2, probe_cells=None
        )
    )
    hier = _rows(
        S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, nprobe=2, probe_cells=4
        )
    )
    assert hier == flat and len(flat) > 0


def test_hier_sub_codebook_reads_only_probed_cells(spark, tmp_path):
    """The driver-memory contract: _read_sub_codebook must return
    centroids of exactly the requested cells, never the flat
    codebook."""
    q = _corpus(spark)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2, route_width=4)
    cents_full = _codebook(spark, path)
    _, cell_of = S.coarse_route(cents_full)
    some_cell = min(cell_of.values())
    sub, sub_cells = S._read_sub_codebook(spark, path, [some_cell])
    assert set(sub_cells.values()) == {some_cell}
    assert set(sub) == {c for c, g in cell_of.items() if g == some_cell}
    assert 0 < len(sub) < len(cents_full)


# ---------------------------------------------------------------------
# the probe stage: driver routing and the Arrow scoring kernel


def test_zero_norm_scores_null_and_ranks_last(spark, tmp_path):
    """A zero-norm side makes the SQL ``_cos_scaled`` NULL (non-ANSI
    divide by zero) and the NULL ranks last in the desc window; the
    scoring kernel must emit the same NULL, not numpy's NaN cast to
    int64 min. Every cluster is probed and k covers the corpus, so
    each probe must rank the whole corpus exactly as
    ``topk_bruteforce`` (the SQL path) does."""
    q = _corpus(spark)
    zid = 10**6
    zero = q.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + zid).alias("vec_id"),
        F.transform("q", lambda x: x * 0).alias("q"),
        F.lit(0).cast("long").alias("norm2"),
    )
    corpus = q.unionByName(zero).localCheckpoint(eager=True)
    queries = corpus.filter(F.col("vec_id").isin(1, zid))
    n = corpus.count()
    path = str(tmp_path / "ivf")
    S.write_ivf_index(corpus, path, n_centroids=8, iters=2)
    want = _rows(S.topk_bruteforce(corpus, queries, k=n))
    hier = _rows(
        S.topk_ivf_indexed_hier(
            spark, path, queries, k=n, nprobe=n, probe_cells=None
        )
    )
    inline = _rows(
        S.topk_ivf(corpus, queries, k=n, n_centroids=8, nprobe=n)
    )
    assert hier == want and inline == want
    real = sorted((r for r in hier if r[0] == 1), key=lambda r: r[2])
    assert real[-1][1] == zid and real[-1][3] is None
    assert all(r[3] is not None for r in real[:-1])
    zq = sorted((r for r in hier if r[0] == zid), key=lambda r: r[2])
    assert len(zq) == n - 1 and all(r[3] is None for r in zq)
    assert [r[1] for r in zq] == sorted(r[1] for r in zq)


def test_probe_stage_merges_duplicates_across_partitions(spark, tmp_path):
    """A replay's duplicate rows can land in different scan partitions,
    where the per-partition dedup never sees both copies: the merge
    must still give each (query_id, cand_id) one rank. The union of
    the pruned scan with itself puts every copy in its own partition."""
    q = _corpus(spark)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2, route_width=4)
    cents, vectors = _codebook(spark, path), S._read_vectors(spark, path)
    queries = S._collect_queries(q.filter(F.col("vec_id") < 10))
    probes = S._nearest(queries[1], queries[2], cents, 2)
    probed = sorted(set(probes.ravel().tolist()))
    _, cell_of = S.coarse_route(cents)
    pruned = S._prune_to_clusters(
        vectors, sorted({cell_of[c] for c in probed}), probed
    )
    once = _rows(S._probe_topk(pruned, queries, probes, 10))
    twice = _rows(
        S._probe_topk(pruned.unionByName(pruned), queries, probes, 10)
    )
    assert twice == once and len(once) == 100


def _planted_index(spark, path):
    """Four axis centroids and a query equidistant from centroids 0
    and 1 — and, after ``coarse_route`` folds them into two cells,
    from cells 0 and 1. Candidates 3 and 7 are the same vector."""
    cents = {
        0: [100, 0, 0, 0],
        1: [0, 100, 0, 0],
        2: [-100, 0, 0, 0],
        3: [0, -100, 0, 0],
    }
    vecs = {
        3: [90, 10, 0, 0],
        5: [80, 30, 0, 0],
        7: [90, 10, 0, 0],
        4: [10, 90, 0, 0],
        6: [30, 80, 0, 0],
        8: [-90, 5, 0, 0],
        9: [5, -90, 0, 0],
        100: [50, 50, 0, 0],
    }

    def frame(ids):
        return spark.createDataFrame(
            [(i, vecs[i], sum(v * v for v in vecs[i])) for i in ids],
            "vec_id long, q array<long>, norm2 long",
        )

    S.write_ivf_index(frame(sorted(vecs)[:-1]), path, cents=cents)
    return frame([100])


def test_planted_ties_break_to_lower_ids(spark, tmp_path):
    """Routing ties go to the lower centroid (and cell) id, and
    equal-cosine candidates rank the lower cand_id first — the
    ``(d, c)`` and ``(cos_scaled desc, cand_id)`` orders of the SQL
    path. Routing the tie to centroid 1 would return 4 and 6."""
    path = str(tmp_path / "ivf")
    query = _planted_index(spark, path)
    _, cell_of = S.coarse_route(_codebook(spark, path))
    assert cell_of == {0: 0, 1: 1, 2: 1, 3: 0}
    cos = [
        int(1e6 * 5500 / (5000 * 7300) ** 0.5),
        int(1e6 * 5000 / (5000 * 8200) ** 0.5),
    ]
    want = sorted(
        [(100, 5, 1, cos[0]), (100, 3, 2, cos[1]), (100, 7, 3, cos[1])]
    )
    for width in (1, None):
        assert _rows(
            S.topk_ivf_indexed_hier(
                spark, path, query, k=10, nprobe=1, probe_cells=width
            )
        ) == want


def test_empty_query_batch_returns_empty_frame(spark, tmp_path):
    """No queries, no rows — but still the 4-column result frame."""
    q = _corpus(spark)
    none = q.filter(F.col("vec_id") < 0)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2, route_width=4)
    for out in (
        S.topk_ivf_indexed_hier(spark, path, none),
        S.topk_ivf(q, none, n_centroids=8),
    ):
        assert out.columns == ["query_id", "cand_id", "rank", "cos_scaled"]
        assert out.collect() == []


# Spark jobs one hierarchical probe may launch: the cells/ read, the
# query collect, the sub-codebook read (its bounded limit-collect can
# take two jobs) and the scoring stage's shuffle-map and result jobs.
# The round-trip analog of the plan-shape pin in
# tests/test_keep_min_id_plan.py: routing in Spark cost 20 jobs here.
MAX_HIER_PROBE_JOBS = 6


def test_hier_probe_job_count(spark, tmp_path):
    q = _corpus(spark)
    probes = q.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(q, path, n_centroids=8, iters=2, route_width=4)
    rows, jobs, _ = count_jobs(
        spark, "hier-probe-job-count",
        lambda: S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, nprobe=2
        ).collect(),
    )
    assert len(rows) == 100
    assert 1 <= jobs <= MAX_HIER_PROBE_JOBS, jobs


# Spark jobs one routed append may launch on this fixture: the cells/
# read, the routing collect, the sub-codebook read and the vectors/
# write. Learning the routed cells must add no shuffle job.
MAX_ROUTED_APPEND_JOBS = 7


def test_routed_append_job_count(spark, tmp_path):
    """Each partition of the routing kernel yields its cell ids once
    and the driver unions them, so learning which cells a batch
    reaches costs no shuffle job."""
    q = _corpus(spark)
    cents = S.kmeans_centroids(q, k=64, iters=2, train_sample=(1, 4))
    path = str(tmp_path / "ivf")
    S.write_ivf_index(
        q.filter(F.col("vec_id") % 2 == 0), path,
        cents=cents, route_width=4,
    )
    _, jobs, _ = count_jobs(
        spark, "routed-append-job-count",
        lambda: S.append_ivf_index(
            q.filter(F.col("vec_id") % 2 == 1), path, route_width=4
        ),
    )
    assert 1 <= jobs <= MAX_ROUTED_APPEND_JOBS, jobs
