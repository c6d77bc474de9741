"""CLI smoke: the operational commands drive the same plans the
oracle rows already pin; here we check wiring, not semantics."""

from __future__ import annotations

import os

from samba_tv_ingest_etl_spark.__main__ import main

from .conftest import SF_DIR


def test_list_names_queries(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q13_session_ids" in out
    assert "q76_semdedup_drops" in out


def test_query_command_runs(capsys):
    rc = main(
        ["query", "--name", "q14_sessions", "--sf-dir", SF_DIR,
         "--limit", "3"]
    )
    assert rc == 0
    assert "session" in capsys.readouterr().out


def test_query_command_unknown_name():
    assert (
        main(["query", "--name", "q_nope", "--sf-dir", SF_DIR]) == 2
    )


def test_backfill_then_incremental(tmp_path, spark):
    wh = os.path.join(str(tmp_path), "wh")
    argv = ["backfill", "--sf-dir", SF_DIR, "--warehouse", wh]
    argv2 = ["incremental", "--sf-dir", SF_DIR, "--warehouse", wh]
    assert main(argv) == 0
    assert os.path.isdir(os.path.join(wh, "viewing_sessions"))
    n = spark.read.parquet(os.path.join(wh, "viewing_sessions")).count()
    assert n > 0
    # daily pass on top of the backfill is idempotent wiring-wise
    assert main(argv2) == 0
    n2 = spark.read.parquet(
        os.path.join(wh, "viewing_sessions")
    ).count()
    assert n2 >= 0


def test_maintain_index_command(tmp_path, spark, capsys):
    """maintain --index compacts a fragmented band index through the
    CLI (wiring; byte-identity is test_maintenance's job) and
    --vacuum clears crash leftovers."""
    import pyspark.sql.functions as F

    from samba_tv_ingest_etl_spark.operators import similarity as S

    q = (
        S.quantize(spark.read.parquet(SF_DIR + "/embeddings.parquet"))
        .filter(F.col("norm2") > 0)
    )
    path = str(tmp_path / "vband")
    S.write_vector_band_index(q.filter(F.col("vec_id") % 2 == 0), path)
    S.append_vector_band_index(q.filter(F.col("vec_id") % 2 == 1), path)
    os.makedirs(path + "/bands__tmp__")
    rc = main(
        ["maintain", "--index", path, "--kind", "vector_band",
         "--vacuum"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "bands__tmp__" in out and "compacted" in out
    assert not os.path.isdir(path + "/bands__tmp__")
    files = [
        f
        for f in os.listdir(path + "/bands/band=0")
        if f.endswith(".parquet")
    ]
    assert len(files) == 1


def test_maintain_argument_validation():
    assert main(["maintain"]) == 2
    assert main(["maintain", "--warehouse", "/tmp/x", "--index", "/tmp/y"]) == 2


def test_maintain_components_fold(spark, tmp_path):
    from samba_tv_ingest_etl_spark.operators.components import (
        components_increment,
        connected_components,
        read_components_state,
        write_components_state,
    )

    p = str(tmp_path / "cc")
    edges = spark.createDataFrame(
        [(1, 2), (3, 4)], "src long, dst long"
    )
    write_components_state(connected_components(edges), p, buckets=4)
    components_increment(
        spark,
        p,
        spark.createDataFrame([(2, 3)], "src long, dst long"),
    )
    before = sorted(
        (r["node"], r["component"])
        for r in read_components_state(spark, p).collect()
    )
    # under the gate: listing-only
    assert main(["maintain", "--components", p,
                 "--only-if-over", "100"]) == 0
    assert os.path.isdir(p + "/remaps")
    # ungated: folds the log and clears it
    assert main(["maintain", "--components", p]) == 0
    assert not os.path.isdir(p + "/remaps")
    after = sorted(
        (r["node"], r["component"])
        for r in read_components_state(spark, p).collect()
    )
    assert after == before


def test_maintain_index_stats(spark, tmp_path, capsys):
    from samba_tv_ingest_etl_spark.operators.similarity import (
        quantize,
        write_vector_band_index,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet").limit(50)
    q = quantize(emb)
    p = str(tmp_path / "vidx")
    write_vector_band_index(q, p)

    def _snapshot():
        out = []
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                out.append((fp, os.path.getmtime(fp), os.path.getsize(fp)))
        return sorted(out)

    before = _snapshot()
    assert main(["maintain", "--index", p, "--kind", "vector_band",
                 "--stats"]) == 0
    outp = capsys.readouterr().out
    assert "docs/(flat):" in outp and "bands/band=" in outp
    # stats is read-only: byte-level no-op (a fall-through into the
    # compactor would rewrite files and change mtimes/paths)
    assert _snapshot() == before
    assert main(["maintain", "--index", p, "--stats"]) == 2
    assert main(["maintain", "--index", p + "_nope", "--kind",
                 "vector_band", "--stats"]) == 2
    assert main(["maintain", "--index", p, "--kind", "vector_band",
                 "--stats", "--vacuum"]) == 2
