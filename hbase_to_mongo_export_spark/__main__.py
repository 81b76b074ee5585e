"""CLI: the export job as a parameterized Spark application.

Mirrors the reference's property-driven entrypoint (HBaseToMongoExport.kt
+ ~60 Spring properties, README.md:37-109 of the reference) as argparse
flags over the same capability surface::

    python -m hbase_to_mongo_export_spark export \
        --topic db.database.collection --source /data/source_records \
        --output /data/out --manifest /data/manifest \
        --compression gzip --strict --max-batch-bytes 100000 \
        --ts-start 0 --ts-end 253402300800000 \
        --status-file /data/status.jsonl --correlation-id run42

    python -m hbase_to_mongo_export_spark completion-status \
        --status-file /data/status.jsonl
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hbase_to_mongo_export_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("export", help="run a snapshot export for one topic")
    e.add_argument("--topic", required=True)
    e.add_argument("--source", required=True, help="parquet dir/file of (key, ts, value)")
    e.add_argument("--output", required=True)
    e.add_argument("--manifest")
    e.add_argument("--blocked-topics", default=None)
    e.add_argument("--ts-start", type=int, default=None)
    e.add_argument("--ts-end", type=int, default=None)
    e.add_argument("--snapshot-type", choices=["full", "incremental"], default="full")
    e.add_argument("--compression", default="gzip",
                   choices=["gzip", "bzip2", "lz4", "none"])
    e.add_argument("--strict", action="store_true", help="HTME naming/byte-cap sink")
    e.add_argument("--signed-splits", action="store_true",
                   help="reference signed-byte wraparound split names "
                        "(HBasePartitioner.kt:12-37)")
    e.add_argument("--encrypt-output", action="store_true")
    e.add_argument("--max-batch-bytes", type=int, default=100_000_000)
    e.add_argument("--scan-width", type=int, default=5)
    e.add_argument("--plaintext-payloads", action="store_true")
    e.add_argument("--correlation-id", default="run")
    e.add_argument("--status-file", default=None)
    e.add_argument("--messages-file", default=None)
    e.add_argument("--metrics-file", default=None,
                   help="pushgateway-style metrics JSONL (final push + delete)")

    c = sub.add_parser("completion-status", help="fold run statuses (A3)")
    c.add_argument("--status-file", required=True)

    s = sub.add_parser("sql", help="ad-hoc SQL over the table catalog")
    s.add_argument("statement", help="SQL to run (tables pre-registered as views)")
    s.add_argument("--sf-dir", required=True, help="directory of <table>.parquet files")
    s.add_argument("--limit", type=int, default=100, help="max rows to print")
    s.add_argument("--output", default=None, help="write full result here instead")
    s.add_argument("--format", default="parquet",
                   choices=["parquet", "json", "csv", "orc"])

    t = sub.add_parser(
        "table",
        help="versioned MERGE-table operations (operators/merge.py): "
             "create/read/history/changes/delete-where/update-where/compact/vacuum/restore/clone",
    )
    t.add_argument(
        "action",
        choices=[
            "create", "append", "read", "history", "changes", "detail",
            "delete-where", "update-where", "compact", "vacuum",
            "restore", "clone", "add-constraint", "drop-constraint",
            "rename-column", "drop-column",
        ],
    )
    t.add_argument("path", help="table directory")
    t.add_argument("--source", default=None,
                   help="create: parquet path of the initial data")
    t.add_argument("--version", type=int, default=None,
                   help="read: time travel / restore: target version")
    t.add_argument("--as-of-timestamp", type=float, default=None,
                   help="read: TIMESTAMP AS OF (unix seconds)")
    t.add_argument("--bin-pack-bytes", type=int, default=None,
                   help="compact: incremental bin-packing — rewrite only "
                        "files smaller than this many bytes")
    t.add_argument("--purge-vectors-over", type=float, default=None,
                   help="compact: targeted deletion-vector purge (REORG "
                        "APPLY (PURGE)) — rewrite only files whose deleted "
                        "fraction exceeds this threshold in [0, 1)")
    t.add_argument(
        "--range", action="append", default=None, metavar="COL,OP,VALUE",
        help="read: data-skipping conjunct, e.g. --range o_orderkey,>=,800 "
             "(repeatable; files outside the manifest stats range are "
             "never opened)",
    )
    t.add_argument("--from-version", type=int, default=0, help="changes")
    t.add_argument("--to-version", type=int, default=None, help="changes")
    t.add_argument("--where", default=None,
                   help="delete-where/update-where: SQL boolean expression")
    t.add_argument(
        "--set", action="append", default=None, metavar="COL=EXPR",
        help="update-where: assignment, e.g. --set \"price=price*1.1\" "
             "(repeatable; EXPR is SQL over the row's own columns)",
    )
    t.add_argument("--dest", default=None,
                   help="clone: destination table directory")
    t.add_argument("--column", default=None,
                   help="rename-column/drop-column: the (logical) column")
    t.add_argument("--to", default=None,
                   help="rename-column: the new logical name")
    t.add_argument("--sort-col", default=None, help="compact: range-cluster key")
    t.add_argument("--zorder", default=None,
                   help="compact: 2+ comma-separated columns to Z-order")
    t.add_argument("--target-files", type=int, default=None)
    t.add_argument("--retain-last", type=int, default=1, help="vacuum")
    t.add_argument("--name", default=None,
                   help="add-constraint/drop-constraint: constraint name")
    t.add_argument("--expr", default=None,
                   help="add-constraint: SQL CHECK expression over the "
                        "table's columns (NULL passes, FALSE violates)")
    t.add_argument("--sweep-orphans", action="store_true",
                   help="vacuum: also remove unreferenced parquet files "
                        "older than the grace window (crash leftovers)")
    t.add_argument("--orphan-grace-seconds", type=float, default=86_400.0,
                   help="vacuum --sweep-orphans: minimum age before an "
                        "unreferenced file is swept")
    t.add_argument("--limit", type=int, default=100, help="read/changes print cap")

    q = sub.add_parser("query", help="run a named query from the registry")
    q.add_argument("name", help="registry key (see 'query --list')")
    q.add_argument("--sf-dir", default=None)
    q.add_argument("--limit", type=int, default=100)
    q.add_argument("--list", action="store_true", dest="list_queries",
                   help="list available query names")
    return p


def _table(spark, args) -> int:
    """The ``table`` subcommand: one action on a ParquetMergeTable."""
    from pyspark.sql import functions as F

    from .operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, args.path)
    if args.action == "create":
        if not args.source:
            print("create requires --source", file=sys.stderr)
            return 2
        v = t.create(spark.read.parquet(args.source))
        print(json.dumps({"version": v, "path": args.path}))
    elif args.action == "append":
        if not args.source:
            print("append requires --source", file=sys.stderr)
            return 2
        print(json.dumps(t.append(spark.read.parquet(args.source))))
    elif args.action == "read":
        where = None
        if args.range:
            where = []
            for spec in args.range:
                parts = spec.split(",", 2)
                if len(parts) != 3:
                    print(
                        "--range needs COL,OP,VALUE (e.g. key,>=,800)",
                        file=sys.stderr,
                    )
                    return 2
                col, op, raw = parts
                try:
                    val = int(raw)
                except ValueError:
                    try:
                        val = float(raw)
                    except ValueError:
                        print(
                            f"--range value {raw!r} must be numeric",
                            file=sys.stderr,
                        )
                        return 2
                where.append((col, op, val))
        df = t.read(
            version=args.version,
            where=where,
            as_of_timestamp=args.as_of_timestamp,
        )
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.action == "detail":
        print(json.dumps(t.detail(version=args.version)))
    elif args.action == "history":
        for man in t.history():
            print(
                json.dumps(
                    {
                        "version": man["version"],
                        "operation": man["operation"],
                        "files": len(man["files"]),
                        "delete_files": len(man.get("delete_files", [])),
                        "stats": man.get("stats", {}),
                    }
                )
            )
    elif args.action == "changes":
        df = t.read_changes(args.from_version, args.to_version)
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.action == "delete-where":
        if not args.where:
            print("delete-where requires --where", file=sys.stderr)
            return 2
        print(json.dumps(t.delete_where(F.expr(args.where))))
    elif args.action == "compact":
        zorder = None
        if args.zorder:
            cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
            if len(cols) < 2:
                print(
                    "--zorder needs at least two comma-separated columns",
                    file=sys.stderr,
                )
                return 2
            zorder = tuple(cols)
        print(
            json.dumps(
                t.compact(
                    sort_col=args.sort_col,
                    target_files=args.target_files,
                    zorder=zorder,
                    bin_pack_bytes=args.bin_pack_bytes,
                    purge_vectors_over=args.purge_vectors_over,
                )
            )
        )
    elif args.action == "add-constraint":
        if not args.name or not args.expr:
            print("add-constraint requires --name and --expr", file=sys.stderr)
            return 2
        print(json.dumps(t.add_constraint(args.name, args.expr)))
    elif args.action == "drop-constraint":
        if not args.name:
            print("drop-constraint requires --name", file=sys.stderr)
            return 2
        print(json.dumps(t.drop_constraint(args.name)))
    elif args.action == "update-where":
        if not args.where or not args.set:
            print("update-where requires --where and --set", file=sys.stderr)
            return 2
        set_map = {}
        for a in args.set:
            col, eq, expr = a.partition("=")
            if not eq or not col.strip():
                print(f"bad --set (want COL=EXPR): {a!r}", file=sys.stderr)
                return 2
            set_map[col.strip()] = F.expr(expr)
        print(json.dumps(t.update_where(F.expr(args.where), set_map)))
    elif args.action == "clone":
        if not args.dest:
            print("clone requires --dest", file=sys.stderr)
            return 2
        c = t.clone(args.dest, version=args.version)
        print(json.dumps(c._manifest(0)["stats"]))
    elif args.action == "rename-column":
        if not args.column or not args.to:
            print("rename-column requires --column and --to", file=sys.stderr)
            return 2
        print(json.dumps(t.rename_column(args.column, args.to)))
    elif args.action == "drop-column":
        if not args.column:
            print("drop-column requires --column", file=sys.stderr)
            return 2
        print(json.dumps(t.drop_column(args.column)))
    elif args.action == "restore":
        if args.version is None:
            print("restore requires --version", file=sys.stderr)
            return 2
        print(json.dumps(t.restore(args.version)))
    elif args.action == "vacuum":
        print(
            json.dumps(
                t.vacuum(
                    retain_last=args.retain_last,
                    sweep_orphans=args.sweep_orphans,
                    orphan_grace_seconds=args.orphan_grace_seconds,
                )
            )
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from .session import get_spark

    spark = get_spark("hbase-to-mongo-export-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "export":
        from .plans.export import ExportConfig, run_export
        from .plans.status import LocalNotifier, LocalStatusStore

        cfg = ExportConfig(
            topic=args.topic,
            output_dir=args.output,
            manifest_dir=args.manifest,
            blocked_topics=args.blocked_topics,
            ts_start=args.ts_start,
            ts_end=args.ts_end,
            snapshot_type=args.snapshot_type,
            compression=args.compression,
            strict_sink=args.strict,
            signed_splits=args.signed_splits,
            encrypt_output=args.encrypt_output,
            max_batch_bytes=args.max_batch_bytes,
            scan_width=args.scan_width,
            plaintext_payloads=args.plaintext_payloads,
        )
        store = LocalStatusStore(args.status_file) if args.status_file else None
        notifier = LocalNotifier(args.messages_file) if args.messages_file else None
        registry = pusher_cm = None
        if args.metrics_file:
            from .plans.metrics import (
                LocalPushGateway, MetricsRegistry, PeriodicPusher,
            )

            registry = MetricsRegistry(job="export", instance=args.correlation_id)
            pusher_cm = PeriodicPusher(
                registry, LocalPushGateway(args.metrics_file), interval_s=20.0
            )
            pusher_cm.__enter__()
        # the loader form lets a missing table surface inside run_export
        # and fold to Table_Unavailable (never skipped, never a crash —
        # reference JobCompletionNotificationListener.kt:69-91)
        from .sources.catalog import read_export_source

        try:
            result = run_export(
                spark, lambda: read_export_source(spark, args.source), cfg,
                correlation_id=args.correlation_id,
                status_store=store, notifier=notifier,
                metrics=registry,
            )
        finally:
            if pusher_cm is not None:
                pusher_cm.__exit__(None, None, None)
        print(
            json.dumps(
                {
                    "topic": result.topic,
                    "status": result.status,
                    "records": result.records,
                    "quarantined": result.quarantined,
                    "files": len(result.files),
                    "manifest_files": len(result.manifest_files),
                }
            )
        )
        if result.status != "Exported":
            if result.error:
                print(result.error, file=sys.stderr)
            return 1
        return 0

    if args.cmd == "sql":
        from .sources.catalog import register_views, write_any

        register_views(spark, args.sf_dir)
        df = spark.sql(args.statement)
        if args.output:
            write_any(df, args.output, args.format)
            print(json.dumps({"written": args.output, "format": args.format}))
        else:
            for r in df.limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
        return 0

    if args.cmd == "query":
        from . import queries as registry

        qmap = {**registry.queries(), **registry.demo_queries()}
        if args.list_queries or args.name == "list":
            for name in sorted(qmap):
                print(name)
            return 0
        if args.name not in qmap:
            print(f"unknown query {args.name!r}; try 'query list'", file=sys.stderr)
            return 2
        sf_dir = args.sf_dir or "/root/testdata/sf0.001"
        try:
            for r in qmap[args.name](spark, sf_dir).limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
        finally:
            from .operators import _cache as op_cache

            op_cache.release_all()
        return 0

    if args.cmd == "table":
        from .operators.merge import MergeError

        try:
            return _table(spark, args)
        except MergeError as e:
            print(str(e), file=sys.stderr)
            return 1

    if args.cmd == "completion-status":
        from .plans.status import LocalStatusStore, completion_status

        store = LocalStatusStore(args.status_file)
        rows = completion_status(store.to_df(spark)).collect()
        for r in rows:
            print(json.dumps(r.asDict()))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
