"""Compaction + vacuum: content-preserving file-count reduction and
safe cleanup of crashed-swap leftovers."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.plans.backfill import Warehouse
from samba_tv_ingest_etl_spark.plans.maintenance import (
    compact_table,
    vacuum_warehouse,
)


def _parquet_files(path):
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _rows(wh, table, cols):
    return sorted(map(tuple, wh.read(table).select(*cols).collect()))


def test_compact_flat_table(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(1000).select("id", (F.col("id") % 7).alias("v"))
    # simulate daily appends: many small files
    for i in range(5):
        wh.append(df.filter(F.col("id") % 5 == i).repartition(4), "t")
    before_files = len(_parquet_files(wh.path("t")))
    before_rows = _rows(wh, "t", ["id", "v"])
    assert before_files >= 20
    n = compact_table(wh, "t")
    assert n == 1000
    assert len(_parquet_files(wh.path("t"))) == 1
    assert _rows(wh, "t", ["id", "v"]) == before_rows


def test_compact_single_partition_leaves_others(spark, tmp_path):
    wh = Warehouse(
        spark, str(tmp_path), layout={**Warehouse.SCALE_LAYOUT, "t": ["p"]}
    )
    df = spark.range(400).select(
        "id", (F.col("id") % 2).alias("p")
    )
    for i in range(4):
        wh.append(
            df.filter(F.col("id") % 4 == i).repartition(3), "t"
        )
    before_rows = _rows(wh, "t", ["id", "p"])
    p1_dir = os.path.join(wh.path("t"), "p=1")
    untouched_before = {
        f: os.path.getmtime(os.path.join(p1_dir, f))
        for f in os.listdir(p1_dir)
    }
    n = compact_table(wh, "t", partition_value=0)
    assert n == 200
    # compacted partition: one file; other partition: untouched bytes
    p0_files = [
        f for f in os.listdir(os.path.join(wh.path("t"), "p=0"))
        if f.endswith(".parquet")
    ]
    assert len(p0_files) == 1
    untouched_after = {
        f: os.path.getmtime(os.path.join(p1_dir, f))
        for f in os.listdir(p1_dir)
    }
    assert untouched_after == untouched_before
    assert _rows(wh, "t", ["id", "p"]) == before_rows


def test_vacuum_removes_leftovers_keeps_orphans(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    spark.range(10).write.parquet(wh.path("live"))
    # crashed-swap debris next to a live table
    os.makedirs(wh.path("live") + "__tmp__")
    os.makedirs(wh.path("live") + "__old__")
    # leftover whose live dir is GONE: the only copy — must survive
    os.makedirs(wh.path("lost") + "__old__")
    removed = vacuum_warehouse(wh)
    assert removed == ["live__old__", "live__tmp__"]
    assert not os.path.exists(wh.path("live") + "__tmp__")
    assert os.path.exists(wh.path("lost") + "__old__")
    assert spark.read.parquet(wh.path("live")).count() == 10


# ---------------------------------------------------------------------
# persisted-index compaction (r11 verdict #1): daily appends fragment
# the index directories one file set per day; compact_index must
# rewrite them key-sorted with results byte-identical pre/post.


def _quantized(spark):
    from samba_tv_ingest_etl_spark.operators import similarity as S

    return (
        S.quantize(
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        )
        .filter(F.col("norm2") > 0)
        .localCheckpoint(eager=True)
    )


def _part_files(spark, d):
    return [
        f
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith("_")
    ]


def test_compact_vector_band_index_probe_identical(spark, tmp_path):
    from samba_tv_ingest_etl_spark.operators import similarity as S
    from samba_tv_ingest_etl_spark.plans.maintenance import compact_index

    q = _quantized(spark)
    probes = q.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "vband")
    # bootstrap + 3 daily appends -> 4 file sets per band partition
    S.write_vector_band_index(q.filter(F.col("vec_id") % 4 == 0), path)
    for m in (1, 2, 3):
        S.append_vector_band_index(q.filter(F.col("vec_id") % 4 == m), path)
    key = lambda r: tuple(r)  # noqa: E731
    want = sorted(
        map(key, S.topk_lsh_banded_indexed(spark, path, probes, k=10).collect())
    )
    frag = len(_part_files(spark, f"{path}/bands/band=0"))
    assert frag >= 4
    counts = compact_index(spark, path, "vector_band")
    assert counts["docs"] > 0 and counts["bands"] == counts["docs"] * 16
    got = sorted(
        map(key, S.topk_lsh_banded_indexed(spark, path, probes, k=10).collect())
    )
    assert got == want and len(got) > 0
    assert len(_part_files(spark, f"{path}/bands/band=0")) == 1


def test_compact_payload_index_decon_identical(spark, tmp_path):
    from samba_tv_ingest_etl_spark.operators import similarity as S
    from samba_tv_ingest_etl_spark.plans.maintenance import compact_index

    q = _quantized(spark)
    is_eval = F.col("vec_id") % 7 == 0
    ev = q.filter(is_eval)
    corp = q.filter(~is_eval).unionByName(
        ev.select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            "q",
            "norm2",
        )
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "payload")
    S.write_vector_band_index(
        corp.filter(F.col("vec_id") % 2 == 0), path,
        planes=32, bands=4, band_payload=True,
    )
    S.append_vector_band_index(
        corp.filter(F.col("vec_id") % 2 == 1), path,
        planes=32, bands=4, band_payload=True,
    )
    key = lambda r: tuple(r)  # noqa: E731
    dec = lambda: sorted(  # noqa: E731
        map(
            key,
            S.contamination_matches_lsh_indexed(
                spark, path, ev, threshold_pct=80, planes=32, bands=4
            ).collect(),
        )
    )
    want = dec()
    compact_index(spark, path, "vector_band")
    got = dec()
    assert got == want and len(got) > 0


def test_compact_minhash_index_increment_identical(spark, tmp_path):
    from samba_tv_ingest_etl_spark.operators import dedup as D
    from samba_tv_ingest_etl_spark.plans.maintenance import compact_index

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    sh = D.shingle_docs(docs, ngram=3).localCheckpoint(eager=True)
    batch = sh.filter(F.col("doc_id") % 5 == 4).localCheckpoint(eager=True)
    path = str(tmp_path / "bindex")
    D.write_band_index(sh.filter(F.col("doc_id") % 5 == 0), path)
    for m in (1, 2, 3):
        signed = D.minhash_signatures(
            sh.filter(
                (F.col("doc_id") % 5 == m) & (F.col("set_size") > 0)
            ),
            hash_mode="sha2",
        )
        D.append_band_index(signed, path)
    surv = lambda: sorted(  # noqa: E731
        r["doc_id"]
        for r in D.dedup_increment_against_index(
            batch, path, append=False
        ).collect()
    )
    want = surv()
    compact_index(spark, path, "minhash_band")
    got = surv()
    assert got == want and len(got) > 0


def test_compact_ivf_index_probe_and_increment_identical(spark, tmp_path):
    from samba_tv_ingest_etl_spark.operators import similarity as S
    from samba_tv_ingest_etl_spark.plans.maintenance import compact_index

    q = _quantized(spark).select("vec_id", "q", "norm2")
    probes = q.filter(F.col("vec_id") < 10)
    batch = q.filter(F.col("vec_id") % 4 == 3).localCheckpoint(eager=True)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(
        q.filter(F.col("vec_id") % 4 == 0), path,
        n_centroids=8, iters=2, route_width=4,
    )
    for m in (1, 2):
        S.append_ivf_index(q.filter(F.col("vec_id") % 4 == m), path,
                           route_width=4)
    key = lambda r: tuple(r)  # noqa: E731
    probe = lambda: sorted(  # noqa: E731
        map(key, S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, probe_cells=None
        ).collect())
    )
    inc = lambda: sorted(  # noqa: E731
        r["vec_id"]
        for r in S.semdedup_increment_against_index(
            batch, path, threshold_pct=35, route_width=4, append=False
        ).collect()
    )
    want_p, want_i = probe(), inc()
    compact_index(spark, path, "ivf")
    assert probe() == want_p and len(want_p) > 0
    assert inc() == want_i and len(want_i) > 0


def test_vacuum_index_removes_leftovers_keeps_orphans(spark, tmp_path):
    from samba_tv_ingest_etl_spark.operators import similarity as S
    from samba_tv_ingest_etl_spark.plans.maintenance import vacuum_index

    q = _quantized(spark)
    path = str(tmp_path / "vband")
    S.write_vector_band_index(q, path)
    # a crashed compaction's staging next to a LIVE directory: vacuum
    os.makedirs(f"{path}/bands__tmp__")
    # a leftover whose live directory is GONE is the only copy: keep
    os.rename(f"{path}/docs", f"{path}/docs__old__")
    removed = vacuum_index(spark, path)
    assert removed == ["bands__tmp__"]
    assert os.path.isdir(f"{path}/docs__old__")


def test_compact_index_missing_component_named_error(spark, tmp_path):
    """compact_index on an incomplete index — e.g. a pre-hierarchical
    IVF layout with no cells/ — must raise the same named
    rebuild-pointing error the readers raise (r12 advice), and must
    raise BEFORE rewriting any component (no partial compaction of a
    half-recognized layout)."""
    import pytest

    from samba_tv_ingest_etl_spark.plans.maintenance import compact_index

    path = str(tmp_path / "flat_ivf")
    spark.range(4).selectExpr(
        "id AS vec_id", "id % 2 AS cluster", "id % 2 AS cell"
    ).write.partitionBy("cell").parquet(f"{path}/vectors")
    spark.range(2).selectExpr("id AS c").write.parquet(
        f"{path}/centroids"
    )
    with pytest.raises(ValueError, match="no cells/ component"):
        compact_index(spark, path, "ivf")
    with pytest.raises(ValueError, match="no docs/ component"):
        compact_index(spark, str(tmp_path / "nothing"), "minhash_band")


def test_compact_index_gate_is_partition_selective(spark, tmp_path):
    """The fragmentation gate (r12 verdict #1) at partition grain: an
    IVF append lands only in the batch's routed cells, so after one
    append only THOSE cell partitions exceed a gate of 1 — a gated
    compaction must rewrite exactly them (each back to one file),
    leave every other partition's files physically untouched, and
    keep probe results byte-identical."""
    from samba_tv_ingest_etl_spark.operators import similarity as S
    from samba_tv_ingest_etl_spark.plans.maintenance import (
        compact_index,
        index_fragmentation,
    )

    q = _quantized(spark).select("vec_id", "q", "norm2")
    probes = q.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    S.write_ivf_index(
        q.filter(~F.col("vec_id").isin(7, 15)), path,
        n_centroids=25, iters=2, route_width=4,
    )
    compact_index(spark, path, "ivf")  # baseline: 1 file per scope
    # a 2-vector append lands in at most 2 of the ~5 cells
    S.append_ivf_index(
        q.filter(F.col("vec_id").isin(7, 15)), path, route_width=4
    )
    frag = index_fragmentation(spark, path, "ivf")["vectors"]
    hot = {d for d, n in frag.items() if n > 1}
    cold = {d for d, n in frag.items() if n == 1}
    assert hot and cold, f"need both hot and cold cells, got {frag}"

    key = lambda r: tuple(r)  # noqa: E731
    want = sorted(
        map(key, S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, probe_cells=None
        ).collect())
    )
    import os

    def snap(dirs):
        out = {}
        for d in dirs:
            full = f"{path}/vectors/{d}"
            for f in sorted(os.listdir(full)):
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(f"{full}/{f}")
                out[f"{d}/{f}"] = (st.st_mtime_ns, st.st_size)
        return out

    cold_before = snap(cold)
    counts = compact_index(spark, path, "ivf", only_if_over=1)
    assert counts["cells"] == 0 and counts["centroids"] == 0
    assert counts["vectors"] > 0
    # hot cells compacted back to one file, cold cells untouched
    after = index_fragmentation(spark, path, "ivf")["vectors"]
    assert {d: n for d, n in after.items() if d in hot} == {
        d: 1 for d in hot
    }
    assert snap(cold) == cold_before
    got = sorted(
        map(key, S.topk_ivf_indexed_hier(
            spark, path, probes, k=10, probe_cells=None
        ).collect())
    )
    assert got == want and len(got) > 0
