"""Command-line surface: ``python -m klogs_spark <command>``.

A user of the reference operates it as: Fluent Bit ships logs in; ClickHouse
answers SQL. The engine's equivalents:

    ingest     raw JSON-lines dir -> logs table (batch drain or continuous)
    query      SQL over the logs table (view name: logs)
    retention  delete the days older than the TTL window
    compact    merge one partition's small files
    metrics    print the ingest metrics exposition after a drain
    delete     row-level predicate delete (GDPR), touched days only
    stats      ANALYZE-style column statistics (exact or HLL++)
    snapshot / versions          publish / list manifest versions
    materialize-promotions       backfill promoted columns into history
    retention-policy             per-namespace TTL in one pass
    optimize                     rewrite history into the z-order layout

Every verb that changes the table rewrites it copy-on-write and publishes
a new manifest version; replaced files stay on disk until ``vacuum``.
"""

from __future__ import annotations

import argparse
import sys

from .config import EngineConfig
from .session import get_spark


def _parse_set_args(pairs: list) -> dict:
    """Shared --set COL=EXPR parsing for the update verbs (cow-update /
    mor-update) — one copy so the validation can never drift again (the
    two inline loops had already diverged once, review-found)."""
    set_exprs = {}
    for a in pairs:
        col, eq, expr = a.partition("=")
        if not eq or not expr.strip() or not col.strip():
            raise SystemExit(f"--set needs COL=EXPR, got {a!r}")
        set_exprs[col.strip()] = expr
    return set_exprs


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="klogs_spark")

    class _Version(argparse.Action):
        # computed lazily: print_info shells out to git and imports pyspark,
        # which every other subcommand should not pay for
        def __call__(self, parser, namespace, values, option_string=None):
            from .version import print_info

            # stdout, not parser.exit(message=...) which writes stderr —
            # `klogs_spark --version | ...` scripting depends on stdout
            print(print_info())
            parser.exit()

    p.add_argument("--version", action=_Version, nargs=0)
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="JSON-lines dir -> logs table")
    pi.add_argument("source")
    pi.add_argument("table")
    pi.add_argument("--checkpoint", required=True)
    pi.add_argument("--continuous", action="store_true",
                    help="run a continuous trigger instead of drain-once")
    pi.add_argument("--flush-interval", type=int, default=60)
    pi.add_argument("--batch-size", type=int, default=10_000)
    pi.add_argument("--force-number-fields", default="")
    pi.add_argument("--force-underscores", action="store_true")
    pi.add_argument("--input-format", choices=("json", "msgpack"),
                    default="json",
                    help="json lines or Fluent Bit msgpack chunk files")
    pi.add_argument("--dead-letter", default=None,
                    help="quarantine undecodable lines to this dir (json only)")
    pi.add_argument("--exactly-once", action="store_true",
                    help="idempotent parquet sink (skip replayed batches)")
    pi.add_argument("--metrics-address", default=None,
                    help="serve /metrics + /health here (e.g. 0.0.0.0:2021), "
                         "parity with the reference's metrics server")

    pq = sub.add_parser("query", help="SQL over the logs table")
    pq.add_argument("table")
    pq.add_argument("sql", help="SQL text; the table is registered as `logs`")
    pq.add_argument("--limit", type=int, default=20)
    ptt = pq.add_mutually_exclusive_group()
    ptt.add_argument("--version", type=int, default=None,
                     help="time travel: query the pinned snapshot version "
                          "instead of the live directory")
    ptt.add_argument("--as-of", default=None, metavar="ISO_TS",
                     help="TIMESTAMP AS OF: latest snapshot committed at "
                          "or before this time (e.g. 2024-01-05T12:00:00)")

    pr = sub.add_parser("retention",
                        help="delete the days past the TTL (copy-on-"
                             "write: the bytes stay on disk until vacuum)")
    pr.add_argument("table")
    pr.add_argument("--days", type=int, default=30)
    pr.add_argument("--dry-run", action="store_true",
                    help="report the days that would be deleted; write "
                         "nothing")

    pc = sub.add_parser("compact", aliases=["cow-compact"],
                        help="copy-on-write small-file compaction of one "
                             "partition (fragments retained — vacuum "
                             "later)")
    pc.add_argument("table")
    pc.add_argument("partition", help="e.g. date=2026-01-01")

    pd_ = sub.add_parser("delete", aliases=["cow-delete"],
                         help="row-level predicate delete (GDPR); "
                              "copy-on-write, so the deleted rows' bytes "
                              "stay on disk until vacuum --keep-versions 1")
    pd_.add_argument("table")
    pd_.add_argument("predicate",
                     help="SQL predicate; rows where it is TRUE are deleted")

    ps = sub.add_parser("stats", help="ANALYZE-style column statistics")
    ps.add_argument("table")
    ps.add_argument("--columns", default="namespace,app,host",
                    help="comma-separated column names")
    ps.add_argument("--approx", action="store_true",
                    help="HLL++ NDV instead of exact (the 100 TB default)")

    pn = sub.add_parser("snapshot", help="publish a snapshot manifest")
    pn.add_argument("table")

    pv = sub.add_parser("versions", help="list snapshot versions")
    pv.add_argument("table")

    pex = sub.add_parser("explain",
                         help="print the optimized physical plan of a "
                              "registry query (the plan-quality lens: "
                              "check pushdown, codegen spans, exchanges)")
    pex.add_argument("query",
                     help="registry query name (list with 'list-queries')")
    pex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pex.add_argument("--mode", default="formatted",
                     choices=["simple", "extended", "formatted", "cost"])

    plq = sub.add_parser("list-queries",
                         help="list every registry query name")

    pm = sub.add_parser("materialize-promotions",
                        help="backfill promoted columns into plain history")
    pm.add_argument("table")

    pp = sub.add_parser("retention-policy",
                        help="per-namespace TTL (ns=days pairs)")
    pp.add_argument("table")
    pp.add_argument("--policy", default="",
                    help="comma-separated ns=days, e.g. ns-1=5,ns-3=12")
    pp.add_argument("--default-days", type=int, default=30)

    po = sub.add_parser("optimize",
                        help="rewrite history into the z-order layout")
    po.add_argument("table")
    po.add_argument("--zorder", default="namespace,app,host",
                    help="comma-separated z-order columns")
    po.add_argument("--days", default="",
                    help="restrict to these days (comma-separated)")

    pmd = sub.add_parser("mor-delete",
                         help="merge-on-read predicate delete: records "
                              "(file, pos) in a deletion vector — zero "
                              "data files rewritten")
    pmd.add_argument("table")
    pmd.add_argument("predicate", help="SQL predicate over log columns")

    pdc = sub.add_parser("dv-compact",
                         help="fold the head's deletion vector into a "
                              "COW rewrite and clear it (or fold "
                              "selectively past --min-deleted-ratio)")
    pdc.add_argument("table")
    pdc.add_argument("--min-deleted-ratio", type=float, default=0.0,
                     help="fold only days holding a file whose deleted "
                          "fraction crosses this; surviving positions "
                          "re-anchor as one generation (0 = fold all)")

    pdl = sub.add_parser("dv-coalesce",
                         help="rewrite the deletion-vector chain as ONE "
                              "generation without folding — keeps MOR "
                              "semantics, bounds read-side unions")
    pdl.add_argument("table")

    pmu = sub.add_parser("mor-update",
                         help="merge-on-read UPDATE...SET: old rows join "
                              "the deletion vector, updated copies "
                              "append — O(matched rows), no day rewrite")
    pmu.add_argument("table")
    pmu.add_argument("predicate", help="SQL predicate over log columns")
    pmu.add_argument("--set", dest="sets", action="append",
                     required=True, metavar="COL=EXPR",
                     help="assignment, repeatable (e.g. --set "
                          "\"log=concat(log, ' [fixed]')\")")

    pmt = sub.add_parser("maintain",
                         help="one-call housekeeping: heal crashed "
                              "rewrites, compact fragmented days, "
                              "optional retention, vacuum (copy-on-"
                              "write; clones included)")
    pmt.add_argument("table")
    pmt.add_argument("--max-files", type=int, default=8)
    pmt.add_argument("--keep-versions", type=int, default=1)
    pmt.add_argument("--retention-days", type=int, default=None)
    pmt.add_argument("--dry-run", action="store_true")
    pmt.add_argument("--dv-fold-min-ratio", type=float, default=0.1,
                     help="fold a day's deletion vector only when a "
                          "file's deleted fraction crosses this "
                          "(0 = always fold)")
    pmt.add_argument("--dv-fold-max-chain", type=int, default=8,
                     help="coalesce (not fold) the vector chain past "
                          "this many generations")
    pmt.add_argument("--rollup", default=None,
                     help="also advance this incremental rollup from "
                          "the change feed (manifest tables only)")

    prl = sub.add_parser("rollup-advance",
                         help="advance the incremental per-(day, "
                              "namespace) rollup from the table's "
                              "change feed (net churn only; falls open "
                              "to a full recompute past vacuum)")
    prl.add_argument("table")
    prl.add_argument("rollup")
    prl.add_argument("--keep-states", type=int, default=2)

    prlr = sub.add_parser("rollup-release-lock",
                          help="release a CRASHED advance's rollup lock "
                               "(.rollup-inprogress.json); states commit "
                               "by atomic rename, so no state repair is "
                               "needed — only use once the holder is "
                               "confirmed dead")
    prlr.add_argument("rollup")

    pvc = sub.add_parser("vacuum",
                         help="reclaim files unreferenced by the newest "
                              "K manifests")
    pvc.add_argument("table")
    pvc.add_argument("--keep-versions", type=int, default=1)
    pvc.add_argument("--dry-run", action="store_true",
                     help="report what would be reclaimed; touch nothing")

    pch = sub.add_parser("changes",
                         help="CDC feed between two snapshot versions")
    pch.add_argument("table")
    pch.add_argument("v_from", type=int)
    pch.add_argument("v_to", type=int)
    pch.add_argument("--limit", type=int, default=20)

    prs = sub.add_parser("restore",
                         help="RESTORE: republish an older snapshot as "
                              "the new head (one manifest write)")
    prs.add_argument("table")
    prs.add_argument("version", type=int)

    pcl = sub.add_parser("clone",
                         help="SHALLOW CLONE: new table referencing the "
                              "source's files by absolute path (zero "
                              "data copied; COW on the clone never "
                              "touches source bytes)")
    pcl.add_argument("source")
    pcl.add_argument("dest")
    pcl.add_argument("--version", type=int, default=None,
                     help="pin a specific source snapshot (default: "
                          "latest incl. committed appends)")

    pcm = sub.add_parser("cow-merge",
                         help="copy-on-write MERGE from a parquet batch "
                              "(replaced files retained — vacuum later)")
    pcm.add_argument("table")
    pcm.add_argument("updates", help="parquet path with the update rows")
    pcm.add_argument("--keys", default="timestamp",
                     help="comma-separated merge key columns")

    pcu = sub.add_parser("cow-update",
                         help="copy-on-write UPDATE ... SET (replaced "
                              "files retained — vacuum later)")
    pcu.add_argument("table")
    pcu.add_argument("predicate", help="SQL predicate selecting rows")
    pcu.add_argument("--set", dest="sets", action="append", required=True,
                     metavar="COL=EXPR",
                     help="column=SQL-expression (repeatable; expressions "
                          "see the PRE-update row)")

    pfs = sub.add_parser("fsck",
                         help="read-only manifest consistency report "
                              "(missing/unmanifested/tombstoned files, "
                              "journal state)")
    pfs.add_argument("table")

    prm = sub.add_parser("ann-remove",
                         help="delete vector ids from the IVF-PQ codes "
                              "store (GDPR; only affected cells "
                              "rewritten, no retrain)")
    prm.add_argument("index_path",
                     help="flat index dir (in-place) or, with --online, "
                          "the generation ROOT")
    prm.add_argument("ids", help="comma-separated vector ids")
    prm.add_argument("--online", action="store_true",
                     help="publish the removal as a NEW committed "
                          "generation (cellmap references untouched "
                          "cells; searchers never see a torn cell) "
                          "instead of the in-place maintenance-window "
                          "swap")

    prc = sub.add_parser("ann-recover",
                         help="replay or roll back a CRASHED in-place "
                              "removal's journal (only run when no "
                              "writer is live — recovery of a live "
                              "journal would steal its claim)")
    prc.add_argument("index_path")

    pad_ = sub.add_parser("ann-drift",
                          help="IVF-PQ serving-build drift (ppm of "
                               "post-training vectors)")
    pad_.add_argument("index_root")

    pav = sub.add_parser("ann-vacuum",
                         help="reclaim superseded/uncommitted index "
                              "generations (reference-aware: keeps every "
                              "build the serving cellmap chain touches)")
    pav.add_argument("index_root")
    pav.add_argument("--dry-run", action="store_true")
    pav.add_argument("--force", action="store_true",
                     help="also reclaim ALLOCATED-but-uncommitted "
                          "generations (operator asserts no build or "
                          "removal publish is in flight)")

    par = sub.add_parser("ann-rebuild",
                         help="retrain the IVF-PQ index into a new "
                              "committed generation when drift >= "
                              "threshold (atomic pointer swap)")
    par.add_argument("index_root")
    par.add_argument("embeddings", help="parquet path of the full corpus")
    par.add_argument("--threshold-ppm", type=int, default=100_000)

    args = p.parse_args(argv)

    if args.cmd == "list-queries":
        # registry() needs no Spark — never pay JVM startup for a listing
        from .queries import registry

        for n in registry():
            print(n)
        return 0

    spark = get_spark("klogs-spark-cli")

    if args.cmd == "ingest":
        from .stream import read_json_lines_stream, run_ingest_once, start_ingest

        cfg = EngineConfig(
            flush_interval_s=args.flush_interval,
            batch_size=args.batch_size,
            force_number_fields=[
                s for s in args.force_number_fields.split(",") if s
            ],
            force_underscores=args.force_underscores,
        )
        if args.input_format == "msgpack":
            from .stream import read_msgpack_chunk_stream

            stream = read_msgpack_chunk_stream(spark, args.source)
        else:
            stream = read_json_lines_stream(spark, args.source)
        sink = args.table
        if args.exactly_once:
            from .stream import exactly_once_sink

            sink = exactly_once_sink(args.table)
        server = None
        metrics = None
        if args.metrics_address:
            from .metrics import IngestMetrics, MetricsServer, instrument_logger

            metrics = IngestMetrics()
            # the engine's own log lines feed logs_total{level}
            # (reference logger.go:17-19,61)
            instrument_logger(metrics)
            server = MetricsServer(metrics, args.metrics_address)
            server.start()
            print(f"metrics server on port {server.port}")
        try:
            if args.continuous:
                q = start_ingest(stream, sink, cfg, args.checkpoint,
                                 dead_letter_dir=args.dead_letter,
                                 metrics=metrics,
                                 input_format=args.input_format)
                q.awaitTermination()
            else:
                run_ingest_once(stream, sink, cfg, args.checkpoint,
                                dead_letter_dir=args.dead_letter,
                                metrics=metrics,
                                input_format=args.input_format)
                print("ingest drained")
                if metrics is not None:
                    print(metrics.render_prometheus(), end="")
        finally:
            if server is not None:
                server.stop()
        return 0

    if args.cmd == "query":
        if args.version is not None or args.as_of is not None:
            from datetime import datetime, timezone

            from .manifest import read_snapshot

            as_of_ms = None
            if args.as_of is not None:
                dt = datetime.fromisoformat(args.as_of)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                as_of_ms = int(dt.timestamp() * 1000)
            read_snapshot(
                spark, args.table, version=args.version, as_of_ms=as_of_ms
            ).createOrReplaceTempView("logs")
        else:
            from .table import register_view

            register_view(spark, args.table, "logs")
        spark.sql(args.sql).show(args.limit, truncate=False)
        return 0

    if args.cmd == "retention":
        from .manifest import apply_retention

        res = apply_retention(
            spark, args.table, args.days, dry_run=args.dry_run
        )
        if args.dry_run:
            print(f"would delete {len(res['would_rewrite'])} day(s) before "
                  f"{res['cutoff']}: {res['would_rewrite']}")
        else:
            print(f"v{res['version']}: deleted {res['rows_deleted']} row(s) "
                  f"before {res['cutoff']} (run vacuum to reclaim)")
        return 0

    if args.cmd == "stats":
        from .table import collect_column_stats, read_logs

        cols = [c for c in args.columns.split(",") if c]
        collect_column_stats(
            read_logs(spark, args.table), cols, approx=args.approx
        ).show(truncate=False)
        return 0

    if args.cmd == "snapshot":
        from .manifest import publish_snapshot

        print(f"published v{publish_snapshot(spark, args.table)}")
        return 0

    if args.cmd in ("delete", "cow-delete"):
        from .manifest import cow_delete_where

        res = cow_delete_where(spark, args.table, args.predicate)
        print(
            f"v{res['version']}: deleted {res['rows_deleted']} row(s); "
            f"rewrote {res['partitions_rewritten']} (fragments retained — "
            "run vacuum to reclaim)"
        )
        return 0

    if args.cmd in ("compact", "cow-compact"):
        from .manifest import cow_compact_partition

        res = cow_compact_partition(spark, args.table, args.partition)
        print(
            f"v{res['version']}: compacted {res['files_compacted']} "
            "file(s) (fragments retained — run vacuum to reclaim)"
        )
        return 0

    if args.cmd == "mor-delete":
        from .manifest import mor_delete_where

        res = mor_delete_where(spark, args.table, args.predicate)
        print(
            f"v{res['version']}: deleted {res['rows_deleted']} row(s) "
            "merge-on-read (no data file rewritten; dv_compact folds "
            "the vector when it grows)"
        )
        return 0

    if args.cmd == "dv-compact":
        from .manifest import dv_compact

        res = dv_compact(
            spark, args.table, min_deleted_ratio=args.min_deleted_ratio
        )
        print(
            f"v{res['version']}: folded {res['positions_folded']} "
            f"position(s) across {len(res['partitions_rewritten'])} "
            f"day(s); {res['positions_kept']} position(s) stay "
            "merge-on-read (fragments retained — run vacuum)"
        )
        return 0

    if args.cmd == "dv-coalesce":
        from .manifest import dv_coalesce

        res = dv_coalesce(spark, args.table)
        print(
            f"v{res['version']}: chain {res['generations_before']} -> "
            f"{res['generations_after']} generation(s), "
            f"{res['positions_dropped']} dead position(s) dropped"
        )
        return 0

    if args.cmd == "mor-update":
        from .manifest import mor_update_where

        res = mor_update_where(
            spark, args.table, args.predicate, _parse_set_args(args.sets)
        )
        print(
            f"v{res['version']}: updated {res['rows_updated']} row(s) "
            "merge-on-read (old rows vector-deleted, new copies "
            "appended; dv_compact folds the vector when it grows)"
        )
        return 0

    if args.cmd == "rollup-advance":
        from .table import incremental_rollup

        res = incremental_rollup(
            spark, args.table, args.rollup, keep_states=args.keep_states
        )
        src = (
            "from scratch" if res["from_version"] is None
            else f"from v{res['from_version']}"
        )
        print(
            f"rollup at v{res['to_version']} ({src}, mode {res['mode']})"
        )
        return 0

    if args.cmd == "rollup-release-lock":
        from .table import release_rollup_lock

        released = release_rollup_lock(spark, args.rollup)
        print(
            "lock released" if released
            else "no lock held — nothing to release"
        )
        return 0

    if args.cmd == "maintain":
        import json as _json

        from .manifest import maintain

        rep = maintain(spark, args.table,
                       max_files_per_partition=args.max_files,
                       keep_versions=args.keep_versions,
                       retention_days=args.retention_days,
                       dry_run=args.dry_run,
                       dv_fold_min_ratio=args.dv_fold_min_ratio,
                       dv_fold_max_chain=args.dv_fold_max_chain,
                       rollup_path=args.rollup)
        print(_json.dumps(rep, indent=1, default=str))
        return 0

    if args.cmd == "vacuum":
        from .manifest import vacuum

        rep = vacuum(
            spark, args.table, keep_versions=args.keep_versions,
            dry_run=args.dry_run,
        )
        if args.dry_run:
            print(
                f"would reclaim {len(rep['would_delete_files'])} file(s), "
                f"drop manifests {rep['would_drop_manifests']} "
                f"({rep['files_unmanifested']} unmanifested file(s) "
                "untouched)"
            )
        else:
            print(
                f"reclaimed {rep['files_deleted']} file(s), dropped "
                f"{rep['manifests_dropped']} manifest(s)"
            )
        return 0

    if args.cmd == "changes":
        from .manifest import snapshot_changes

        snapshot_changes(spark, args.table, args.v_from, args.v_to).show(
            args.limit, truncate=False
        )
        return 0

    if args.cmd == "restore":
        from .manifest import restore_snapshot

        v = restore_snapshot(spark, args.table, args.version)
        print(f"restored v{args.version} as new head v{v}")
        return 0

    if args.cmd == "clone":
        from .manifest import shallow_clone

        res = shallow_clone(spark, args.source, args.dest,
                            version=args.version)
        print(f"cloned {args.source} v{res['source_version']} -> "
              f"{args.dest} v{res['version']} "
              f"({res['n_files']} referenced files, zero copied)")
        return 0

    if args.cmd == "cow-merge":
        from .manifest import cow_merge_upsert

        updates = spark.read.parquet(args.updates)
        res = cow_merge_upsert(
            spark, args.table, updates, args.keys.split(",")
        )
        print(
            f"v{res['version']}: updated {res['rows_updated']} row(s), "
            f"inserted {res['rows_inserted']}; rewrote "
            f"{res['partitions_rewritten']} (replaced files retained — "
            "run vacuum to reclaim)"
        )
        return 0

    if args.cmd == "cow-update":
        from .manifest import cow_update_where

        res = cow_update_where(
            spark, args.table, args.predicate, _parse_set_args(args.sets)
        )
        print(
            f"v{res['version']}: updated {res['rows_updated']} row(s); "
            f"rewrote {res['partitions_rewritten']} (replaced files "
            "retained — run vacuum to reclaim)"
        )
        return 0

    if args.cmd == "fsck":
        import json as _json

        from .manifest import fsck

        rep = fsck(spark, args.table)
        print(_json.dumps(rep, indent=2))
        return 0 if rep["ok"] else 1

    if args.cmd == "ann-remove":
        ids = [int(x) for x in args.ids.split(",") if x]
        if args.online:
            from .ext.ann_index import commit_index_removal

            bdir = commit_index_removal(spark, args.index_path, ids)
            print(f"published removal generation {bdir}")
            return 0
        from .ext.ann_index import remove_from_ivfpq_index

        res = remove_from_ivfpq_index(spark, args.index_path, ids)
        print(
            f"removed {res['rows_removed']} code row(s) across "
            f"{res['cells_rewritten']} cell(s)"
        )
        return 0

    if args.cmd == "ann-recover":
        from .ext.ann_index import recover_incomplete_removal

        rec = recover_incomplete_removal(spark, args.index_path)
        if not rec["recovered"]:
            print("no removal journal found — nothing to recover")
        elif rec["completed"]:
            print("journaled removal REPLAYED to completion")
        else:
            print("incomplete removal ROLLED BACK (no cell was touched)")
        return 0

    if args.cmd == "ann-vacuum":
        from .ext.ann_index import vacuum_index

        res = vacuum_index(spark, args.index_root, dry_run=args.dry_run,
                           force=args.force)
        verb = "would delete" if res["dry_run"] else "deleted"
        print(f"kept {len(res['kept'])} build(s); "
              f"{verb} {len(res['deleted'])}: {res['deleted']}")
        if res["in_flight"]:
            print(f"skipped {len(res['in_flight'])} allocated-but-"
                  f"uncommitted build(s) (possibly live — re-run with "
                  f"--force to reclaim): {res['in_flight']}")
        return 0

    if args.cmd == "ann-drift":
        from .ext.ann_index import current_index_path, index_drift_ppm

        drift = index_drift_ppm(spark, args.index_root)
        print(
            f"serving build {current_index_path(args.index_root)}: "
            f"{drift} ppm post-training vectors"
        )
        return 0

    if args.cmd == "ann-rebuild":
        from .ext.ann_index import rebuild_if_drifted

        emb = spark.read.parquet(args.embeddings)
        res = rebuild_if_drifted(
            spark, emb, args.index_root, args.threshold_ppm
        )
        verb = "rebuilt into" if res["rebuilt"] else "below threshold; serving"
        print(f"drift {res['drift_ppm']} ppm — {verb} {res['path']}")
        return 0

    if args.cmd == "explain":
        from .queries import registry

        specs = registry()
        if args.query not in specs:
            import difflib

            close = difflib.get_close_matches(args.query, specs, n=3)
            print(f"unknown query {args.query!r}; close matches: {close}")
            return 1
        df = specs[args.query].fn(spark, args.sf_dir)
        df.explain(args.mode)
        return 0

    if args.cmd == "versions":
        from .manifest import snapshot_commit_times

        for v, ms in snapshot_commit_times(spark, args.table).items():
            print(f"v{v}\tcommitted_at_ms={ms}")
        return 0

    if args.cmd == "materialize-promotions":
        from .manifest import materialize_promotions

        res = materialize_promotions(spark, args.table)
        rewritten = res["partitions_rewritten"]
        print(f"v{res['version']}: backfilled {len(rewritten)} "
              f"partition(s): {rewritten}")
        return 0

    if args.cmd == "retention-policy":
        from .manifest import apply_retention_policy

        policies = {}
        for pair in args.policy.split(","):
            if pair:
                ns, days = pair.split("=", 1)
                policies[ns] = int(days)
        res = apply_retention_policy(
            spark, args.table, policies, args.default_days
        )
        print(
            f"v{res['version']}: deleted {res['rows_deleted']} row(s); "
            f"rewrote {res['partitions_rewritten']} (run vacuum to reclaim)"
        )
        return 0

    if args.cmd == "optimize":
        from .manifest import optimize_zorder

        days = [d for d in args.days.split(",") if d] or None
        res = optimize_zorder(
            spark, args.table,
            tuple(c for c in args.zorder.split(",") if c),
            days=days,
        )
        done = res["partitions_rewritten"]
        print(f"v{res['version']}: z-ordered {len(done)} partition(s): "
              f"{done}")
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
