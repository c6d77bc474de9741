"""Operational acceptance (VERDICT r2 #6): drive the CLI exactly as a
reference user would, at sf0.1 — backfill, then three daily
incremental passes with late-arriving data, then consume the metrics
view — and require the incremental warehouse to converge to the
one-shot backfill (the reference's EP2≡EP3 contract,
etl-dag.sql:91-121)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.__main__ import main
from samba_tv_ingest_etl_spark.queries.core import _samba_feeds

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# every session column except the audit timestamp (created_at differs
# between a backfill instant and three incremental instants by design)
_COMPARE_COLS = [
    "hh_id", "dma", "source_table", "content_type", "application",
    "title", "content_id", "episode_title", "season", "episode",
    "network", "panel_monday", "session_id", "session_start_ts",
    "session_end_ts", "total_duration", "panel_weight",
]


def _sessions(spark, root):
    from samba_tv_ingest_etl_spark.plans.backfill import Warehouse

    df = Warehouse(spark, root).read("viewing_sessions")
    return sorted(map(tuple, df.select(*_COMPARE_COLS).collect()))


def test_cli_end_to_end_sf01(spark, tmp_path, capsys):
    # --- one-shot reference build (EP2) --------------------------------
    full = str(tmp_path / "full")
    assert main(["backfill", "--sf-dir", SF01, "--warehouse", full]) == 0

    # --- day-by-day operation (EP3): 3 passes, later ones carry late
    # data for earlier panels so the affected-key recompute re-cuts
    # already-committed sessions ---------------------------------------
    acr, stb, _ = _samba_feeds(spark, SF01)
    days = sorted(
        r[0]
        for r in acr.select("metadata_date")
        .unionByName(stb.select("metadata_date"))
        .distinct()
        .collect()
    )
    assert len(days) >= 3
    cuts = [days[0], days[len(days) // 2], days[-1]]
    inc = str(tmp_path / "inc")
    for cut in cuts:
        assert main(
            ["incremental", "--sf-dir", SF01, "--warehouse", inc,
             "--as-of", cut.isoformat()]
        ) == 0

    # --- convergence: incremental == backfill, column for column ------
    assert _sessions(spark, inc) == _sessions(spark, full)

    # --- consumption surface: the metrics view + reach rollup over
    # the warehouse the user just built ---------------------------------
    capsys.readouterr()
    assert main(["metrics", "--warehouse", inc, "--limit", "5"]) == 0
    out = capsys.readouterr().out
    assert "weighted_view" in out and "panel_monday" in out
    assert main(["metrics", "--warehouse", inc, "--reach",
                 "--limit", "5"]) == 0
    out = capsys.readouterr().out
    assert "weighted_reach" in out and "frequency" in out

    # registry surface still answers next to the warehouse one
    assert main(["query", "--name", "q18_reach_frequency",
                 "--sf-dir", SF01, "--limit", "3"]) == 0
    assert "frequency" in capsys.readouterr().out


def test_metrics_without_warehouse_errors(tmp_path, capsys):
    assert main(["metrics", "--warehouse", str(tmp_path / "nope")]) == 2
    assert "viewing_sessions" in capsys.readouterr().err
