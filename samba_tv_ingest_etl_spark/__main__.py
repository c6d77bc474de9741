"""Operational CLI — the reference's task surface as commands.

    python -m samba_tv_ingest_etl_spark backfill    --sf-dir D --warehouse W
    python -m samba_tv_ingest_etl_spark incremental --sf-dir D --warehouse W
    python -m samba_tv_ingest_etl_spark metrics --warehouse W [--reach]
    python -m samba_tv_ingest_etl_spark query --name q13_session_ids --sf-dir D
    python -m samba_tv_ingest_etl_spark list

``backfill`` = the reference's one-shot DDL chain
(``etl-ddl-backfill.sql``); ``incremental`` = one daily DAG pass
(``etl-dag.sql``) — watermark reads, affected-key recompute and
control-table update included, idempotent to re-runs; ``--as-of D``
replays a historical day (event feeds restricted to
``metadata_date <= D``; the geo dimension stays whole, matching the
reference's weighting join over the full GEO_WEIGHTS table).
``metrics`` is the consumption surface: ``v_audience_metrics`` (or
the reach/frequency rollup with ``--reach``) over a BUILT warehouse —
what a reference user SELECTs after the DAG ran. ``query`` runs any
registered query from the engine's registry and prints rows.
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int | None):
    from .session import get_spark

    return get_spark("samba-cli", cpus=cpus)


def _feeds(spark, sf_dir: str):
    from .queries.core import _samba_feeds

    return _samba_feeds(spark, sf_dir)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="samba_tv_ingest_etl_spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    for name in ("backfill", "incremental"):
        s = sub.add_parser(name)
        s.add_argument("--sf-dir", required=True)
        s.add_argument("--warehouse", required=True)
        if name == "incremental":
            s.add_argument("--as-of", default=None,
                           help="replay: event feeds restricted to "
                                "metadata_date <= AS_OF (YYYY-MM-DD)")

    m = sub.add_parser("metrics")
    m.add_argument("--warehouse", required=True)
    m.add_argument("--reach", action="store_true",
                   help="reach/frequency rollup instead of the "
                        "per-session metrics view")
    m.add_argument("--limit", type=int, default=20)

    q = sub.add_parser("query")
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list")

    mt = sub.add_parser(
        "maintain",
        help="compaction + vacuum for warehouse tables and persisted "
        "indexes (the nightly-maintenance surface)",
    )
    mt.add_argument("--warehouse", default=None)
    mt.add_argument("--table", default=None)
    mt.add_argument("--partition", default=None,
                    help="single hive partition value to compact")
    mt.add_argument("--index", default=None,
                    help="persisted index root (band/IVF layouts)")
    mt.add_argument("--kind", default=None,
                    choices=["minhash_band", "vector_band", "ivf"])
    mt.add_argument("--target-files", type=int, default=1)
    mt.add_argument("--only-if-over", type=int, default=None,
                    help="fragmentation gate: rewrite a partition "
                    "only when its data-file count exceeds this "
                    "(default: unconditional)")
    mt.add_argument("--vacuum", action="store_true",
                    help="remove __tmp__/__old__ crash leftovers")
    mt.add_argument("--stats", action="store_true",
                    help="with --index --kind: print per-scope "
                    "data-file counts (the fragmentation the gate "
                    "reads) and exit without rewriting")
    mt.add_argument("--components", default=None,
                    help="components-state root: fold the remaps/ "
                    "merge log into nodes/ (path compression), "
                    "gated by --only-if-over on log rows")

    args = p.parse_args(argv)

    if args.cmd == "list":
        from . import queries as Q

        for name in sorted(Q.registry()):
            print(name)
        return 0

    spark = _spark(args.cpus)

    if args.cmd == "maintain":
        from .plans.backfill import Warehouse
        from .plans.maintenance import (
            compact_index,
            compact_table,
            vacuum_index,
            vacuum_warehouse,
        )

        targets = [
            t for t in (args.warehouse, args.index, args.components)
            if t
        ]
        if len(targets) != 1:
            print(
                "maintain: exactly one of --warehouse/--index/"
                "--components",
                file=sys.stderr,
            )
            return 2
        if args.warehouse and args.only_if_over is not None:
            print(
                "maintain: --only-if-over applies to --index/"
                "--components only (compact_table has no "
                "fragmentation gate yet) — refusing to silently "
                "run the unconditional rewrite",
                file=sys.stderr,
            )
            return 2
        if args.stats and args.vacuum:
            print("maintain: --stats is read-only; drop --vacuum or "
                  "run it separately", file=sys.stderr)
            return 2
        if args.warehouse and args.stats:
            print("maintain: --stats applies to --index/--components "
                  "targets", file=sys.stderr)
            return 2
        if args.components:
            from .operators.components import fold_components_state
            from .plans.maintenance import _vacuum_dir

            if args.stats:
                from .operators.components import _REMAPS_SCHEMA, _hfs

                fs, jpath = _hfs(spark, args.components)
                rp = args.components.rstrip("/") + "/remaps"
                n = 0
                if fs.exists(jpath(rp)):
                    n = (
                        spark.read.schema(_REMAPS_SCHEMA)
                        .parquet(rp)
                        .count()
                    )
                print(f"remaps/: {n} merge rows (the fold gate's "
                      "input)")
                return 0
            if args.vacuum:
                # a crashed fold goes through atomic_overwrite, so the
                # state root can hold nodes__tmp__/__old__ leftovers
                print(
                    f"vacuumed: {_vacuum_dir(spark, args.components)}"
                )
            n = fold_components_state(
                spark, args.components,
                only_if_over=args.only_if_over or 0,
            )
            print(f"folded {args.components}: {n} merge rows")
            return 0
        if args.index:
            if args.stats:
                if not args.kind:
                    print("maintain --stats needs --kind",
                          file=sys.stderr)
                    return 2
                from .plans.maintenance import index_fragmentation

                frag = index_fragmentation(
                    spark, args.index, args.kind
                )
                if all(not scopes for scopes in frag.values()):
                    print(
                        f"maintain: no {args.kind} index at "
                        f"{args.index} (every component is absent)",
                        file=sys.stderr,
                    )
                    return 2

                def _scope_key(kv):
                    name = str(kv[0])
                    tail = name.split("=", 1)[-1]
                    return (0, int(tail), "") if tail.isdigit() \
                        else (1, 0, name)

                for sub, scopes in frag.items():
                    for scope, nf in sorted(
                        scopes.items(), key=_scope_key
                    ):
                        label = scope if scope is not None else "(flat)"
                        print(f"{sub}/{label}: {nf} files")
                return 0
            if args.vacuum:
                print(f"vacuumed: {vacuum_index(spark, args.index)}")
            if args.kind:
                counts = compact_index(
                    spark, args.index, args.kind, args.target_files,
                    only_if_over=args.only_if_over,
                )
                print(f"compacted {args.index} ({args.kind}): {counts}")
            elif not args.vacuum:
                print("maintain --index needs --kind and/or --vacuum",
                      file=sys.stderr)
                return 2
            return 0
        wh = Warehouse(spark, args.warehouse)
        if args.vacuum:
            print(f"vacuumed: {vacuum_warehouse(wh)}")
        if args.table:
            n = compact_table(
                wh, args.table, partition_value=args.partition,
                target_files=args.target_files,
            )
            print(f"compacted {args.table}: {n} rows")
        elif not args.vacuum:
            print("maintain --warehouse needs --table and/or --vacuum",
                  file=sys.stderr)
            return 2
        return 0

    if args.cmd == "metrics":
        from .operators.metrics import reach_frequency
        from .plans.backfill import Warehouse, v_audience_metrics

        wh = Warehouse(spark, args.warehouse)
        if not wh.exists("viewing_sessions"):
            print(
                f"no viewing_sessions in {args.warehouse}; run "
                "backfill/incremental first", file=sys.stderr,
            )
            return 2
        view = v_audience_metrics(wh)
        if args.reach:
            view = reach_frequency(
                view,
                group_cols=["title", "network"],
                hh_col="hh_id",
                view_weight_col="weighted_view",
                hh_weight_col="weighted_hh",
            )
        view.show(args.limit, truncate=False)
        return 0

    if args.cmd == "query":
        from . import queries as Q

        reg = Q.registry()
        if args.name not in reg:
            print(f"unknown query {args.name!r}; try 'list'",
                  file=sys.stderr)
            return 2
        reg[args.name](spark, args.sf_dir).show(
            args.limit, truncate=False
        )
        return 0

    from .plans.backfill import Warehouse

    wh = Warehouse(spark, args.warehouse)
    acr, stb, geo = _feeds(spark, args.sf_dir)

    if args.cmd == "backfill":
        from .plans.backfill import backfill

        backfill(wh, acr, stb, geo)
        print(f"backfill complete -> {args.warehouse}")
        return 0

    if args.cmd == "incremental":
        from pyspark.sql import functions as F

        from .plans.incremental import run_incremental

        if args.as_of:
            import datetime as dt

            cut = dt.date.fromisoformat(args.as_of)
            le = F.col("metadata_date") <= F.lit(cut)
            acr, stb = acr.filter(le), stb.filter(le)
        stats = run_incremental(wh, acr, stb, geo)
        print(f"incremental pass complete -> {args.warehouse}: {stats}")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
