"""spark-submit entrypoint for the CDC ingest engine.

Cluster deployment (the north rule's run mode)::

    # package the engine for the executors
    zip -r kcp_spark.zip kafka_connect_plugins_spark

    # continuous tail (or --available-now for replay/catch-up)
    spark-submit --py-files kcp_spark.zip \\
        -m kafka_connect_plugins_spark.main ... # or the file path
        --events /data/changelog --table /lake/repo_content \\
        --checkpoint /lake/_ckpt/repo_content --stream-id prod \\
        --trigger 10s

Local smoke run::

    python -m kafka_connect_plugins_spark.main --demo

All session tuning that matters at cluster scale is taken from the
submit-time conf (executors, memory, AQE, shuffle partitions); this module
only *builds* the session when run locally.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession


def build_session(
    app: str,
    master: str | None,
    shuffle_partitions: int | None,
) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.sql.adaptive.enabled", "true")
    # Cluster deployment notes (measured on the bench harness, see BENCH.md):
    # - standalone/local-cluster executors take their scratch dirs from
    #   SPARK_LOCAL_DIRS, not spark.local.dir — point it at fast local disk.
    # - do NOT cap -XX:CICompilerCount on executors: one C2 thread starves
    #   JIT of the large whole-stage-codegen methods (measured 5.4x slower).
    # - wide nested-struct scans allocate multi-MB column batches; on G1
    #   heaps <= ~16g these are humongous allocations — if GC logs show
    #   "G1 Humongous Allocation" churn, lower
    #   spark.sql.parquet.columnarReaderBatchSize (e.g. 1024) or raise
    #   -XX:G1HeapRegionSize.
    return b.getOrCreate()


# The ``args`` dests of the maintenance block: each op runs on the table,
# they print one JSON report together, and the run exits without ingesting.
MAINTENANCE_OPS = (
    "compact_sort_by", "compact_zorder_by", "expire_keep",
    "purge_below_watermark", "rebucket", "rename_column", "rollback",
    "drop_column", "delete_where", "update_where", "merge_into",
    "replicate_to", "remove_orphans", "describe", "history", "state_digest",
)
# Every command that needs --table but no event log or checkpoint: the
# maintenance block plus the single-purpose commands handled before it.
STANDALONE_OPS = MAINTENANCE_OPS + (
    "lookup", "refresh_view", "bootstrap", "create_branch", "tag", "publish",
)


def _given(args: argparse.Namespace, dests: tuple[str, ...]) -> bool:
    """True when any of ``dests`` was set: a flag is on, or an option holds
    a value (``--rebucket 0`` and ``--rollback 0`` count)."""
    # identity, not ``in``: ``0 == False``, so ``0 in (None, False)`` holds
    return any(
        v is not None and v is not False for v in (getattr(args, d) for d in dests)
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="PySpark CDC ingest: changelog -> lake MERGE")
    p.add_argument("--events", help="change-event log directory (parquet)")
    p.add_argument("--table", help="lake table root")
    p.add_argument("--checkpoint", help="streaming checkpoint directory")
    p.add_argument("--stream-id", default="default")
    p.add_argument("--buckets", type=int, default=64, help="key buckets for a new table")
    p.add_argument("--trigger", default=None, help="processingTime trigger, e.g. '10s'")
    p.add_argument("--available-now", action="store_true", help="drain the log and stop")
    p.add_argument("--wire-format", choices=("envelope", "debezium", "mongo"),
                   default="envelope",
                   help="change-log encoding: 'envelope' = the engine's "
                        "parquet envelope log; 'debezium' / 'mongo' = a "
                        "JSON-lines tail in that public CDC wire format "
                        "(on Kafka: the topic's value bytes), parsed by "
                        "sources/cdc_formats.py into the same ingest chain")
    p.add_argument("--wire-schema",
                   default="repo string, path string, commit string, "
                           "lang string, content string",
                   metavar="DDL",
                   help="row schema DDL for --wire-format debezium/mongo "
                        "(default: the BASELINE repo-content row)")
    p.add_argument("--wire-keys", default="repo,path", metavar="COL[,COL...]",
                   help="key columns inside the wire row (debezium only; "
                        "mongo always keys on _id)")
    p.add_argument("--create", action="store_true", help="create the table if missing")
    p.add_argument("--master", default=None, help="local master override (tests only)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--metrics", default=None, help="metrics JSONL path (default <table>/_metrics)")
    p.add_argument("--demo", action="store_true", help="self-contained local demo run")
    p.add_argument("--compact-sort-by", default=None, metavar="COL[,COL...]",
                   help="maintenance: sort-order compaction — rewrite every "
                        "bucket sorted on these columns so row-group stats "
                        "become disjoint (range scans skip inside files), "
                        "then exit")
    p.add_argument("--compact-zorder-by", default=None, metavar="COL[,COL...]",
                   help="maintenance: z-order compaction — rewrite every "
                        "bucket clustered on the interleaved-bit Morton key "
                        "of these columns so row-group stats tighten on "
                        "every listed column at once, then exit")
    p.add_argument("--expire-keep", type=int, default=None,
                   help="maintenance: expire all but the newest N snapshots, then exit")
    p.add_argument("--expire-max-age-sec", type=float, default=None,
                   help="with --expire-keep: additionally retain every "
                        "snapshot younger than this many seconds (time-based "
                        "guard; only ever widens retention)")
    p.add_argument("--history", action="store_true",
                   help="print the snapshot log (version, commit time, op "
                        "summary) along the current ref, newest first, then "
                        "exit — no scan")
    p.add_argument("--state-digest", action="store_true",
                   help="print the order-insensitive sha256 digest of the "
                        "live table state (one map-only pass + a 3-number "
                        "aggregate) and exit — two replays of the same log "
                        "must print identical digests")
    p.add_argument("--describe", action="store_true",
                   help="print a metadata-only table report (snapshot, "
                        "schema, per-bucket rows + skew, "
                        "refs) and exit — no scan")
    p.add_argument("--purge-below-watermark", action="store_true",
                   help="maintenance: drop delete markers below the ingest's "
                        "min per-partition applied-LSN watermark (from the "
                        "metrics log), then exit")
    p.add_argument("--rename-column", default=None, metavar="OLD:NEW",
                   help="maintenance: metadata-only column rename (no data "
                        "rewrite; old snapshots keep the old name), then exit")
    p.add_argument("--drop-column", default=None, metavar="NAME",
                   help="maintenance: metadata-only column drop (old "
                        "snapshots still read it; the physical name is "
                        "retired so a re-add cannot resurrect values), "
                        "then exit")
    p.add_argument("--rebucket", type=int, default=None, metavar="N",
                   help="maintenance: re-hash the table to N key buckets in "
                        "one atomic snapshot (full rewrite; time travel "
                        "across it stays correct), then exit")
    p.add_argument("--rollback", type=int, default=None, metavar="VERSION",
                   help="maintenance: roll the table back to VERSION as a "
                        "new commit (history preserved, no data rewritten; "
                        "the epoch ledger reverts so undone epochs replay), "
                        "then exit")
    p.add_argument("--delete-where", default=None, metavar="SQL_EXPR",
                   help="maintenance: copy-on-write predicate DELETE (e.g. "
                        "\"repo = 'acme/old'\"); rewrites only matching "
                        "buckets, prints {rows_matched, buckets_rewritten}, "
                        "then exits")
    p.add_argument("--update-where", default=None, metavar="SQL_EXPR",
                   help="maintenance: copy-on-write predicate UPDATE; "
                        "requires --set, then exits")
    p.add_argument("--set", default=None, metavar="JSON", dest="set_exprs",
                   help='column → SQL expression map for --update-where, '
                        'e.g. \'{"content": "\'[redacted]\'", "lang": "lang"}\'')
    p.add_argument("--merge-into", default=None, metavar="PARQUET_DIR",
                   help="maintenance: clause-form MERGE INTO from a parquet "
                        "source (key columns + payload; extra columns are "
                        "conditions-only under 'src'); combine with "
                        "--matched-update / --matched-update-cond / "
                        "--matched-delete-cond / --not-matched-cond / "
                        "--no-insert, then exits")
    p.add_argument("--matched-update", default=None, metavar="JSON",
                   help='column → SQL expression map for --merge-into, e.g. '
                        '\'{"content": "src.content"}\'')
    p.add_argument("--matched-update-cond", default=None, metavar="SQL_EXPR",
                   help="WHEN MATCHED AND <expr> THEN UPDATE guard "
                        "(e.g. \"src.op = 'upsert'\")")
    p.add_argument("--matched-delete-cond", default=None, metavar="SQL_EXPR",
                   help="WHEN MATCHED AND <expr> THEN DELETE clause")
    p.add_argument("--not-matched-cond", default=None, metavar="SQL_EXPR",
                   help="WHEN NOT MATCHED AND <expr> THEN INSERT guard")
    p.add_argument("--no-insert", action="store_true",
                   help="disable the NOT MATCHED INSERT clause of --merge-into")
    p.add_argument("--replica", action="append", default=None, metavar="ROOT",
                   help="attach a follower replica table to the ingest: after "
                        "every committed epoch the change feed ships into it "
                        "(repeatable; created keyed like the source if missing)")
    p.add_argument("--replicate-to", default=None, metavar="ROOT",
                   help="maintenance: incrementally sync this table's change "
                        "feed into the replica table at ROOT (created keyed "
                        "like the source if missing), then exit; exactly-once "
                        "via the replica's epoch ledger")
    p.add_argument("--replica-buckets", type=int, default=None,
                   help="bucket count for a NEWLY created replica "
                        "(default: same as the source)")
    p.add_argument("--verify-replica", action="store_true",
                   help="after --replicate-to, compare source and replica "
                        "state digests and report the result")
    p.add_argument("--remove-orphans", action="store_true",
                   help="maintenance: delete data dirs no manifest references "
                        "(crashed writes, expired WAP branches), then exit")
    p.add_argument("--orphan-grace-sec", type=float, default=86400.0,
                   help="min age before an unreferenced data dir is removed "
                        "(protects in-flight commits; default 1 day)")
    p.add_argument("--view", default=None, metavar="JSON",
                   help='maintained aggregate view spec, e.g. \'{"dir": '
                        '"/data/view", "group": ["repo"], "measures": '
                        '{"bytes": "length(content)"}}\' — with an ingest '
                        "run the view refreshes after every epoch (cost "
                        "proportional to the change feed); with "
                        "--refresh-view it refreshes once and exits")
    p.add_argument("--refresh-view", action="store_true",
                   help="maintenance: advance the --view to the table's "
                        "current version, print the refresh metadata, exit")
    p.add_argument("--lookup", default=None, metavar="JSON",
                   help='point read: JSON key dict (or list of dicts), e.g. '
                        '\'{"repo": "r1", "path": "a.py"}\' — scans ONLY the '
                        "buckets the keys hash to, prints rows as JSON lines, "
                        "then exits")
    p.add_argument("--bootstrap", default=None, metavar="PARQUET",
                   help="initial-snapshot load (Debezium snapshot-then-stream): "
                        "merge the snapshot table as epoch 0 of --stream-id, "
                        "then exit. Ingest the events with lsn > "
                        "--bootstrap-lsn in a run with a DIFFERENT --stream-id: "
                        "under this one, the tail's batch 0 would count as the "
                        "already-committed epoch 0, so an ingest with a fresh "
                        "checkpoint is refused")
    p.add_argument("--bootstrap-lsn", type=int, default=0,
                   help="log position the --bootstrap snapshot was taken at "
                        "(stamped on rows lacking a _lsn column)")
    p.add_argument("--branch", default=None, metavar="NAME",
                   help="commit ingest/maintenance to this branch instead of "
                        "main (write-audit-publish staging; create with "
                        "--create-branch, promote with --publish)")
    p.add_argument("--create-branch", default=None, metavar="NAME",
                   help="fork a branch at the current main head, then exit")
    p.add_argument("--tag", default=None, metavar="NAME",
                   help="pin the current head as an immutable tag, then exit")
    p.add_argument("--publish", default=None, metavar="NAME",
                   help="fast-forward main to the branch head (the WAP "
                        "publish step; refuses a diverged main), then exit")
    args = p.parse_args(argv)

    from kafka_connect_plugins_spark.engine import create_repo_table
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable
    from kafka_connect_plugins_spark.streaming import MetricsLog, StreamingIngest, tail_changelog

    if args.demo:
        import tempfile

        tmp = tempfile.mkdtemp(prefix="kcp_demo_")
        spark = build_session("kcp-demo", args.master or "local[4]", args.shuffle_partitions or 8)
        spark.sparkContext.setLogLevel("ERROR")
        from kafka_connect_plugins_spark.sources.changelog import changelog

        changelog(spark, 10_000, num_repos=20, paths_per_repo=50).write.parquet(f"{tmp}/log")
        args.events, args.table, args.checkpoint = f"{tmp}/log", f"{tmp}/table", f"{tmp}/ckpt"
        args.available_now, args.create = True, True
    else:
        if _given(args, STANDALONE_OPS):
            if not args.table:
                p.error("maintenance commands require --table")
        elif not (args.events and args.table and args.checkpoint):
            p.error("--events, --table and --checkpoint are required (or --demo)")
        spark = build_session("kcp-cdc-ingest", args.master, args.shuffle_partitions)

    if args.create:
        try:
            table = LakeTable.load(spark, args.table)
        except FileNotFoundError:
            table = create_repo_table(spark, args.table, num_buckets=args.buckets)
    else:
        table = LakeTable.load(spark, args.table)

    if args.branch:
        table = table.checkout(args.branch)

    if args.create_branch or args.tag or args.publish:
        out = {}
        if args.create_branch:
            branch = table.create_branch(args.create_branch)
            out["created_branch"] = {
                args.create_branch: branch._head_version(),
            }
        if args.tag:
            out["created_tag"] = {args.tag: table.create_tag(args.tag)}
        if args.publish:
            out["published_version"] = table.publish(args.publish)
        print(json.dumps(out))
        return 0

    if args.bootstrap:
        snapshot = spark.read.parquet(args.bootstrap)
        stats = table.bootstrap(
            snapshot, snapshot_lsn=args.bootstrap_lsn, stream_id=args.stream_id
        )
        print(json.dumps({
            "bootstrapped_rows": stats.rows_written,
            "source_rows": stats.source_rows,
            "snapshot_lsn": args.bootstrap_lsn,
            "skipped": stats.skipped,
        }))
        return 0

    if args.lookup:
        for row in table.lookup(json.loads(args.lookup)).toJSON().collect():
            print(row)
        return 0

    view = None
    if args.view:
        from pyspark.sql import functions as F

        from kafka_connect_plugins_spark.plans.incremental_view import IncrementalAggView
        from kafka_connect_plugins_spark.streaming.view_refresh import MaterializedView

        spec = json.loads(args.view)
        view = MaterializedView(
            IncrementalAggView(
                table,
                spec["group"],
                {name: F.expr(sql) for name, sql in spec["measures"].items()},
            ),
            spec["dir"],
        )
    if args.refresh_view:
        if view is None:
            p.error("--refresh-view requires --view")
        print(json.dumps(view.refresh()))
        return 0

    if _given(args, MAINTENANCE_OPS):
        from pyspark.sql import functions as F

        out = {}
        if args.replicate_to is not None:
            from kafka_connect_plugins_spark.plans.replication import (
                ensure_replica,
                replicate,
            )

            replica = ensure_replica(
                spark, table, args.replicate_to,
                num_buckets=args.replica_buckets,
            )
            out["replicate"] = replicate(
                table, replica, verify=args.verify_replica
            )
        if args.compact_sort_by or args.compact_zorder_by:
            out["compacted_buckets"] = table.compact(
                sort_by=args.compact_sort_by.split(",") if args.compact_sort_by else None,
                zorder_by=(
                    args.compact_zorder_by.split(",")
                    if args.compact_zorder_by else None
                ),
            )
        if args.delete_where is not None:
            out["delete"] = table.delete_where(F.expr(args.delete_where))
        if args.update_where is not None:
            if not args.set_exprs:
                p.error("--update-where requires --set")
            sets = {c: F.expr(sql) for c, sql in json.loads(args.set_exprs).items()}
            out["update"] = table.update_where(F.expr(args.update_where), sets)
        if args.merge_into is not None:
            upd = (
                {c: F.expr(sql) for c, sql in json.loads(args.matched_update).items()}
                if args.matched_update else None
            )
            out["merge_into"] = table.merge_into(
                spark.read.parquet(args.merge_into),
                matched_update=upd,
                matched_update_condition=(
                    F.expr(args.matched_update_cond)
                    if args.matched_update_cond else None
                ),
                matched_delete_condition=(
                    F.expr(args.matched_delete_cond)
                    if args.matched_delete_cond else None
                ),
                not_matched_insert=not args.no_insert,
                not_matched_condition=(
                    F.expr(args.not_matched_cond)
                    if args.not_matched_cond else None
                ),
            )
        if args.remove_orphans:
            out["orphans"] = table.remove_orphans(grace_seconds=args.orphan_grace_sec)
        if args.rebucket is not None:
            out["rebucketed_buckets"] = table.rebucket(args.rebucket)
        if args.rename_column is not None:
            old, _, new = args.rename_column.partition(":")
            if not old or not new:
                p.error("--rename-column expects OLD:NEW")
            out["renamed_version"] = table.rename_column(old, new)
        if args.drop_column is not None:
            out["dropped_version"] = table.drop_column(args.drop_column)
        if args.rollback is not None:
            out["rollback_version"] = table.rollback(args.rollback)
        if args.purge_below_watermark:
            metrics = MetricsLog(args.metrics or f"{args.table}/_metrics/{args.stream_id}.jsonl")
            out["purge"] = table.purge_below_watermark(metrics, args.stream_id)
        if args.expire_keep is not None:
            import time as _time
            older = (
                int((_time.time() - args.expire_max_age_sec) * 1000)
                if args.expire_max_age_sec is not None else None
            )
            out.update(table.expire_snapshots(
                keep_last=args.expire_keep, older_than_ms=older,
            ))
        if args.describe:
            out["describe"] = table.describe()
        if args.history:
            out["history"] = table.history()
        if args.state_digest:
            out["state_digest"] = table.state_digest()
        print(json.dumps(out))
        return 0

    # A fresh checkpoint numbers its micro-batches from 0 again, and the
    # ingest skips every batch at or below the stream's last committed
    # epoch as a replay: under a used stream id it would drop the tail's
    # first batches without an error.
    last_epoch = table.last_epoch(args.stream_id)
    if last_epoch >= 0 and not os.path.exists(
        os.path.join(args.checkpoint, "metadata")
    ):
        p.error(
            f"stream {args.stream_id!r} already committed epoch {last_epoch} "
            f"to {args.table}, and the checkpoint {args.checkpoint} is new: its "
            "batches would be skipped as replays. Resume from the checkpoint "
            "that stream used, or ingest under a new --stream-id"
        )
    metrics = MetricsLog(args.metrics or f"{args.table}/_metrics/{args.stream_id}.jsonl")
    replicas = None
    if args.replica:
        from kafka_connect_plugins_spark.plans.replication import ensure_replica

        replicas = [ensure_replica(spark, table, r) for r in args.replica]
    ingest = StreamingIngest(
        table, stream_id=args.stream_id, metrics=metrics,
        views=[view] if view is not None else None,
        replicas=replicas,
    )

    wire_stream = None
    if args.wire_format != "envelope":
        from pyspark.sql import types as T

        from kafka_connect_plugins_spark.sources.cdc_formats import tail_wire_format

        wire_stream = tail_wire_format(
            spark,
            args.events,
            args.wire_format,
            T.StructType.fromDDL(args.wire_schema),
            [c.strip() for c in args.wire_keys.split(",") if c.strip()],
        )

    if args.available_now:
        stats = ingest.run_available(
            spark, args.events, args.checkpoint, stream=wire_stream
        )
        summary = {
            "epochs": len(stats),
            "events": sum(s.source_rows for s in stats),
            "skipped_epochs": sum(1 for s in stats if s.skipped),
            "final_rows": table.read().count(),
            "high_watermarks": metrics.high_watermarks(args.stream_id),
        }
        print(json.dumps(summary))
        return 0

    query = ingest.start(
        wire_stream if wire_stream is not None else tail_changelog(spark, args.events),
        args.checkpoint,
        processing_time=args.trigger,
    )
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
