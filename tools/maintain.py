"""spark-submit maintenance entry point: compact / vacuum / rebucket a table.

Background maintenance runs OFF the ingest critical path (the production
MOR pattern — Iceberg/Paimon/Hudi compaction services)::

    spark-submit --master <cluster> --py-files dist/engine.zip \\
        tools/maintain.py --table /lake/transcripts compact
    ... maintain.py --table /lake/transcripts vacuum --keep-versions 8
    ... maintain.py --table /lake/transcripts rebucket --n-buckets 256
    ... maintain.py --table /lake/transcripts history
    ... maintain.py --table /lake/transcripts expire --older-than 2026-08-01
    ... maintain.py --table /lake/transcripts sync-mv --mv /lake/conv_rollup
    ... maintain.py --table /lake/transcripts sync-replica --replica /dr/transcripts
    ... maintain.py --table /lake/transcripts quarantine [--clear]
    ... maintain.py --table /lake/transcripts rename-column --old tool --new tool_name
    ... maintain.py --table /lake/transcripts drop-column --name tool
    ... maintain.py --table /lake/transcripts add-column --name score --type double
    ... maintain.py --table /lake/transcripts widen-column --name score --type double
    ... maintain.py --table /lake/transcripts add-constraint --name text_nn \\
        --expr 'text IS NOT NULL'
    ... maintain.py --table /lake/transcripts drop-constraint --name text_nn
    ... maintain.py --table /lake/transcripts constraints
    ... maintain.py --table /lake/transcripts retention-delete \\
        --ts-before 2026-02-01 --epoch-id 20260201
    ... maintain.py --table /lake/transcripts count
    ... maintain.py --table /lake/transcripts min-max --col ts
    ... maintain.py --table /lake/transcripts branch --name audit-0817
    ... maintain.py --table /lake/transcripts publish --name audit-0817
    ... maintain.py --table /lake/transcripts drop-branch --name audit-0817

Safe against a concurrently running tail: every operation commits through
the same optimistic put-if-absent manifest protocol (a lost race returns
Skipped — rerun later), and vacuum's grace window never touches another
writer's in-flight staging dirs.
"""

from __future__ import annotations

import argparse
import json


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True, help="table root dir")
    sub = ap.add_subparsers(dest="op", required=True)
    sc = sub.add_parser(
        "compact",
        help="fold delta files into base, clustered and sized by the "
        "table's maintenance.compact.* policy; the flags below override "
        "its clustering or sizing pair for this run",
    )
    sc.add_argument(
        "--min-delta-files",
        type=int,
        default=1,
        help="fold buckets with at least this many delta files; 0 = "
        "OPTIMIZE semantics (rewrite every bucket, deltas or not — the "
        "in-place way to (re)cluster a copy-on-write table)",
    )
    sc.add_argument(
        "--sort-by",
        default=None,
        help="comma-separated payload columns: cluster each bucket's rows "
        "by these during the fold so file stats prune non-key predicates",
    )
    sc.add_argument(
        "--zorder-by",
        default=None,
        help="comma-separated numeric/timestamp columns: z-order-cluster "
        "each bucket (Morton interleave) so file stats prune on ALL of "
        "them at once; mutually exclusive with --sort-by",
    )
    sc.add_argument(
        "--max-rows-per-file",
        type=int,
        default=None,
        help="roll each bucket into multiple files at this row count "
        "(pairs with --sort-by/--zorder-by for file-level range pruning)",
    )
    sc.add_argument(
        "--purge-tombstones-before",
        default=None,
        help="watermark-bounded tombstone GC: drop delete tombstones with "
        "event-time ts strictly before this bound (ISO timestamp or epoch "
        "seconds) during the fold — the caller asserts no older change "
        "event can still arrive (the streaming tail's lateness contract)",
    )
    sc.add_argument(
        "--max-file-bytes",
        type=int,
        default=None,
        help="roll files to ~this many bytes instead of a row count (row "
        "width estimated from the fold's input; mutually exclusive with "
        "--max-rows-per-file)",
    )
    sv = sub.add_parser("vacuum", help="GC unreferenced data dirs")
    sv.add_argument("--keep-versions", type=int, default=8)
    sv.add_argument("--grace-s", type=float, default=600.0)
    sv.add_argument("--dry-run", action="store_true",
                    help="report the removal set without deleting")
    sv.add_argument("--collect-files", action="store_true",
                    help="also remove unreferenced parquet files inside "
                    "still-referenced dirs (erases retention-dropped "
                    "bytes; O(live dirs) listings)")
    sr = sub.add_parser("rebucket", help="change the hash bucket count")
    sr.add_argument("--n-buckets", type=int, required=True)
    sr.add_argument("--sort-by", default=None,
                    help="cluster the rewrite (see compact --sort-by)")
    sr.add_argument("--zorder-by", default=None,
                    help="z-order-cluster the rewrite (see compact --zorder-by)")
    sr.add_argument("--max-rows-per-file", type=int, default=None)
    sr.add_argument("--max-file-bytes", type=int, default=None,
                    help="bytes-targeted file sizing (see compact)")
    sh = sub.add_parser("history", help="print the snapshot history table")
    sh.add_argument("--limit", type=int, default=50, help="newest N rows")
    sf_ = sub.add_parser(
        "files", help="print the data-file metadata table (Iceberg .files)"
    )
    sf_.add_argument("--version", type=int, default=None)
    sf_.add_argument("--limit", type=int, default=200)
    spn = sub.add_parser(
        "partitions",
        help="per-bucket base/delta file+byte summary (compaction planning)",
    )
    spn.add_argument("--version", type=int, default=None)
    scn = sub.add_parser(
        "count",
        help="exact live-row count, metadata-answered when provable "
        "(zero Spark jobs on a delta-free all-live table)",
    )
    scn.add_argument("--version", type=int, default=None)
    smm = sub.add_parser(
        "min-max",
        help="exact (min, max) of a payload column over live rows, "
        "metadata-answered when provable",
    )
    smm.add_argument("--col", required=True)
    smm.add_argument("--version", type=int, default=None)
    se = sub.add_parser("expire", help="expire old snapshots (metadata)")
    se.add_argument(
        "--older-than",
        default=None,
        help="ISO timestamp / date; omit to expire everything but --keep-last",
    )
    se.add_argument("--keep-last", type=int, default=1)
    sm = sub.add_parser(
        "sync-mv",
        help="sync a DerivedTable (materialized view) whose upstream is "
        "--table; runs the O(changed groups) partial recompute",
    )
    sm.add_argument("--mv", required=True, help="derived table root dir")
    sm.add_argument("--mode", default="cow", choices=["cow", "delta"])
    srp = sub.add_parser(
        "sync-replica",
        help="sync a log-shipped ReplicaTable (mirror/DR follower) whose "
        "upstream is --table; O(appended rows) on the log fast path",
    )
    srp.add_argument("--replica", required=True, help="replica root dir")
    srp.add_argument("--mode", default="delta", choices=["cow", "delta"])
    sq = sub.add_parser(
        "quarantine",
        help="inspect (default) or --clear the dead-letter tree of a table",
    )
    sq.add_argument("--clear", action="store_true")
    st_ = sub.add_parser(
        "tag",
        help="pin a name to a snapshot (protected from expire/vacuum); "
        "read back with ManifestTable.read(tag=...)",
    )
    st_.add_argument("--name", required=True)
    st_.add_argument("--version", type=int, default=None,
                     help="snapshot version (default: current)")
    st_.add_argument("--replace", action="store_true")
    su = sub.add_parser("untag", help="remove a named ref")
    su.add_argument("--name", required=True)
    sub.add_parser("tags", help="list named refs as {name: version}")
    ss = sub.add_parser(
        "set-stats",
        help="change which columns get per-file min/max stats (metadata-"
        "only; backfill with `compact --min-delta-files 0`)",
    )
    ss.add_argument("--cols", required=True, help="comma-separated columns")
    sbl = sub.add_parser(
        "set-bloom",
        help="change which columns future writes attach parquet bloom "
        "filters for (metadata-only; backfill with `compact "
        "--min-delta-files 0`)",
    )
    sbl.add_argument("--cols", required=True, help="comma-separated columns")
    srn = sub.add_parser(
        "rename-column",
        help="ALTER TABLE RENAME COLUMN (metadata-only — zero files "
        "rewritten; old files read through the physical-name shadow "
        "chain; physicalize with rebucket / compact --min-delta-files 0)",
    )
    srn.add_argument("--old", required=True)
    srn.add_argument("--new", required=True)
    sdc = sub.add_parser(
        "drop-column",
        help="ALTER TABLE DROP COLUMN (metadata-only — zero files "
        "rewritten; physical bytes removed by the next rewrite; the name "
        "is tombstoned against re-adding until a full rewrite)",
    )
    sdc.add_argument("--name", required=True)
    sad = sub.add_parser(
        "add-column",
        help="ALTER TABLE ADD COLUMN (metadata-only; readers null-fill "
        "existing files, the next merge may populate it)",
    )
    sad.add_argument("--name", required=True)
    sad.add_argument("--type", required=True, help="Spark DDL type, e.g. string")
    swd = sub.add_parser(
        "widen-column",
        help="ALTER COLUMN TYPE via safe numeric promotion only "
        "(tinyint->...->bigint, float->double; metadata-only)",
    )
    swd.add_argument("--name", required=True)
    swd.add_argument("--type", required=True)
    sac = sub.add_parser(
        "add-constraint",
        help="ALTER TABLE ADD CONSTRAINT name CHECK (expr) — validates "
        "existing rows (one scan), then a metadata-only commit; every "
        "later merge enforces it on the staged batch before publish",
    )
    sac.add_argument("--name", required=True)
    sac.add_argument("--expr", required=True, help="SQL boolean expression")
    sdcn = sub.add_parser(
        "drop-constraint", help="ALTER TABLE DROP CONSTRAINT (metadata-only)"
    )
    sdcn.add_argument("--name", required=True)
    sub.add_parser(
        "constraints", help="list CHECK constraints as {name: expr}"
    )
    sb = sub.add_parser(
        "branch",
        help="fork a write branch at a snapshot (write-audit-publish)",
    )
    sb.add_argument("--name", required=True)
    sb.add_argument("--version", type=int, default=None,
                    help="fork-base snapshot (default: current)")
    sub.add_parser("branches", help="list branch refs as {name: base/head}")
    sp = sub.add_parser(
        "publish",
        help="fast-forward main to a branch's head (atomic squash commit; "
        "fails if main advanced since the fork)",
    )
    sp.add_argument("--name", required=True)
    sd = sub.add_parser(
        "drop-branch",
        help="delete a branch ref + its chain; its unique files become "
        "vacuum garbage",
    )
    sd.add_argument("--name", required=True)
    sdl = sub.add_parser(
        "delete",
        help="row-level DELETE FROM ... WHERE (tombstones via the merge "
        "path; physical erasure at the next rewrite / OPTIMIZE)",
    )
    sdl.add_argument("--where", required=True, help="SQL predicate")
    sdl.add_argument("--epoch-id", type=int, required=True,
                     help="exactly-once token for this delete")
    sdl.add_argument("--mode", default="delta", choices=["delta", "cow"])
    srd = sub.add_parser(
        "retention-delete",
        help="DELETE WHERE ts < cutoff as a retention verb: provably-old "
        "files are dropped with a METADATA-ONLY commit (zero Spark jobs), "
        "boundary rows get ordinary tombstones, and the table's retention "
        "watermark advances (later merges ignore pre-cutoff upserts)",
    )
    srd.add_argument("--ts-before", required=True,
                     help="ISO timestamp cutoff; rows with ts < this go")
    srd.add_argument("--epoch-id", type=int, required=True,
                     help="exactly-once token for this retention pass")
    sup = sub.add_parser(
        "update",
        help="row-level UPDATE ... SET col=expr WHERE (upserts via the "
        "merge path)",
    )
    sup.add_argument("--where", required=True, help="SQL predicate")
    sup.add_argument("--set", required=True, action="append",
                     help="col=SQL-expr (repeatable)")
    sup.add_argument("--epoch-id", type=int, required=True)
    sup.add_argument("--mode", default="delta", choices=["delta", "cow"])
    sck = sub.add_parser(
        "check",
        help="consistency check (fsck): referenced files exist; "
        "--verify-rows also matches footer row counts to the manifest",
    )
    sck.add_argument("--version", type=int, default=None)
    sck.add_argument("--verify-rows", action="store_true")
    srb = sub.add_parser(
        "rollback",
        help="roll the table back to an earlier snapshot (new commit with "
        "the target's content; nothing deleted until expire)",
    )
    g = srb.add_mutually_exclusive_group(required=True)
    g.add_argument("--version", type=int, default=None)
    g.add_argument("--tag", default=None)
    spr = sub.add_parser(
        "set-properties",
        help="merge-update table properties (maintenance.* keys drive "
        "the `auto` autopilot)",
    )
    spr.add_argument(
        "--set", action="append", default=[], metavar="KEY=VALUE",
        help="repeatable; sets KEY to VALUE",
    )
    spr.add_argument(
        "--unset", action="append", default=[], metavar="KEY",
        help="repeatable; deletes KEY",
    )
    sub.add_parser("properties", help="print the current table properties")
    sau = sub.add_parser(
        "auto",
        help="maintenance autopilot: compact/expire/vacuum per the "
        "table's own maintenance.* properties",
    )
    sau.add_argument("--dry-run", action="store_true")
    scl = sub.add_parser(
        "clone",
        help="zero-copy SHALLOW CLONE into a new root (metadata-only; "
        "the clone references this table's data files in place)",
    )
    scl.add_argument("--into", required=True, help="new table root")
    gcl = scl.add_mutually_exclusive_group()
    gcl.add_argument("--version", type=int, default=None)
    gcl.add_argument("--tag", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable

    spark = SparkSession.builder.appName(f"maintain_{args.op}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    t = ManifestTable(spark, args.table)
    if args.op == "compact":
        out = t.compact(
            min_delta_files=args.min_delta_files,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            max_rows_per_file=args.max_rows_per_file,
            max_file_bytes=args.max_file_bytes,
            # numeric CLI strings are epoch seconds; anything else is ISO
            purge_tombstones_before=(
                float(p)
                if (p := args.purge_tombstones_before) is not None
                and p.replace(".", "", 1).isdigit()
                else p
            ),
        )
    elif args.op == "vacuum":
        removed = t.vacuum(
            keep_versions=args.keep_versions,
            grace_s=args.grace_s,
            dry_run=args.dry_run,
            collect_files=args.collect_files,
        )
        out = {
            "status": "Success",
            "removed_dirs": len(removed),
            "dry_run": args.dry_run,
        }
    elif args.op == "history":
        h = t.history().orderBy("version", ascending=False).limit(args.limit)
        h.show(args.limit, truncate=False)
        out = {"status": "Success", "snapshots": h.count()}
    elif args.op == "files":
        f = t.files(version=args.version)
        f.show(args.limit, truncate=False)
        out = {"status": "Success", "files": f.count()}
    elif args.op == "partitions":
        p = t.partitions(version=args.version)
        p.show(1000, truncate=False)
        out = {"status": "Success", "buckets": p.count()}
    elif args.op == "count":
        out = {"status": "Success", "rows": t.count(version=args.version)}
    elif args.op == "min-max":
        lo, hi = t.min_max(args.col, version=args.version)
        out = {
            "status": "Success",
            "col": args.col,
            "min": str(lo) if lo is not None else None,
            "max": str(hi) if hi is not None else None,
        }
    elif args.op == "expire":
        expired = t.expire_snapshots(
            older_than_ts=args.older_than, keep_last=args.keep_last
        )
        out = {"status": "Success", "expired_versions": expired}
    elif args.op == "sync-mv":
        from event_driven_etl_msc_research_spark.sinks.derived import (
            DerivedTable,
        )

        mv = DerivedTable.load(spark, args.mv, t)
        st = mv.sync(mode=args.mode)
        out = {
            "status": st.get("status"),
            "synced_to_version": st.get("version"),
        }
    elif args.op == "sync-replica":
        from event_driven_etl_msc_research_spark.sinks.replica import (
            ReplicaTable,
        )

        rep = ReplicaTable.load(spark, args.replica, t)
        st = rep.sync(mode=args.mode)
        out = {
            "status": st.get("status"),
            "path": st.get("path"),
            "synced_to_version": st.get("upstream_version", st.get("version")),
        }
    elif args.op == "set-properties":
        props: dict = {}
        for kv in args.set:
            k, _, v = kv.partition("=")
            if not _:
                raise SystemExit(f"--set expects KEY=VALUE, got {kv!r}")
            props[k] = v
        for k in args.unset:
            props[k] = None
        out = t.set_properties(props)
    elif args.op == "properties":
        out = {"status": "Success", "properties": t.properties()}
    elif args.op == "auto":
        out = {"status": "Success", **t.auto_maintain(dry_run=args.dry_run)}
    elif args.op == "clone":
        c = t.clone(args.into, version=args.version, tag=args.tag)
        out = {
            "status": "Success",
            "clone_root": c.root,
            "cloned_from": c.manifest()["cloned_from"],
        }
    elif args.op == "tag":
        v = t.tag(args.name, version=args.version, replace=args.replace)
        out = {"status": "Success", "tag": args.name, "version": v}
    elif args.op == "untag":
        existed = t.untag(args.name)
        out = {"status": "Success", "existed": existed}
    elif args.op == "tags":
        out = {"status": "Success", "tags": t.tags()}
    elif args.op == "set-stats":
        out = t.set_stats_cols(args.cols.split(","))
    elif args.op == "set-bloom":
        out = t.set_bloom_filter_cols(args.cols.split(","))
    elif args.op == "rename-column":
        out = t.rename_column(args.old, args.new)
    elif args.op == "drop-column":
        out = t.drop_column(args.name)
    elif args.op == "add-column":
        out = t.add_column(args.name, args.type)
    elif args.op == "widen-column":
        out = t.widen_column(args.name, args.type)
    elif args.op == "add-constraint":
        out = t.add_constraint(args.name, args.expr)
    elif args.op == "drop-constraint":
        out = t.drop_constraint(args.name)
    elif args.op == "constraints":
        out = {"status": "Success", "constraints": t.constraints()}
    elif args.op == "branch":
        b = t.create_branch(args.name, version=args.version)
        out = {
            "status": "Success",
            "branch": args.name,
            "base_version": b.current_version(),
        }
    elif args.op == "branches":
        out = {"status": "Success", "branches": t.branches()}
    elif args.op == "publish":
        out = t.fast_forward(args.name)
    elif args.op == "drop-branch":
        existed = t.drop_branch(args.name)
        out = {"status": "Success", "existed": existed}
    elif args.op == "rollback":
        out = t.rollback_to(version=args.version, tag=args.tag)
    elif args.op == "check":
        out = t.check(version=args.version, verify_rows=args.verify_rows)
    elif args.op == "delete":
        out = t.delete_where(args.where, epoch_id=args.epoch_id, mode=args.mode)
    elif args.op == "retention-delete":
        out = t.retention_delete(args.ts_before, epoch_id=args.epoch_id)
    elif args.op == "update":
        sets = dict(kv.split("=", 1) for kv in args.set)
        out = t.update_where(
            args.where, sets, epoch_id=args.epoch_id, mode=args.mode
        )
    elif args.op == "quarantine":
        if args.clear:
            n = t.storage.delete_prefix("_quarantine")
            out = {"status": "Success", "removed_objects": n}
        else:
            epochs = {
                f"{scope}/{d}": sum(
                    1
                    for o in t.storage.list(f"_quarantine/{scope}/{d}")
                    if o.key.endswith(".parquet")
                )
                for scope in t.storage.list_dirs("_quarantine")
                for d in t.storage.list_dirs(f"_quarantine/{scope}")
            }
            out = {"status": "Success", "epoch_dirs": epochs}
    else:
        out = t.rebucket(
            args.n_buckets,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            max_rows_per_file=args.max_rows_per_file,
            max_file_bytes=args.max_file_bytes,
        )
    print(json.dumps(out))
    return 0 if out.get("status") in ("Success", "Skipped", "NoChange") else 1


if __name__ == "__main__":
    raise SystemExit(main())
