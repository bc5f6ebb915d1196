"""Deployable CLI for the CDC/incremental-ingest engine.

The spark-submit surface the north rule names: package the library with
``zip -r dex.zip data_exchange_hl7_spark`` and drive every lifecycle verb
through one entrypoint on any cluster manager —

    spark-submit --master yarn --py-files dex.zip cli.py ingest \
        --warehouse /mnt/shared/lake/wh --wal /mnt/shared/wal/changes \
        --epoch-size 1000000 --compact-every 8 --expire-keep-last 4

Every table is merge-on-read: each epoch appends delta files, and
``--compact-every K`` folds them into base files every K epochs
(``--compact-every 1`` keeps the table read-optimized).

The table METADATA/ledger layer uses POSIX filesystem semantics (O_EXCL
commit arbitration, os.replace) — point ``--warehouse`` at a mount every
node shares (NFS/Lustre/local in local mode); an object-store catalog
would swap in at the LakeTable metadata layer, not here.

where ``cli.py`` is the two-liner ``from data_exchange_hl7_spark.__main__
import main; main()`` (spark-submit needs a script file; ``python -m
data_exchange_hl7_spark ...`` works directly in local mode). Reference
analogue: the Azure Functions entry points (fn-debatcher/fn-validator/
svc-hl7-replay HTTP triggers) collapsed into one batch/stream driver.

Verbs: ingest (batch WAL replay in lsn-ordered epochs), stream (directory
tail, exactly-once per micro-batch), replay (full/selective into a fresh
table), compact / expire (maintenance), purge (lineage-wide takedown),
inspect (metadata tables), metrics (per-epoch lineage).

Everything here is a thin argparse shim over the public API — no logic
lives in the CLI, so every verb stays covered by the library's tests.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="data_exchange_hl7_spark",
        description="PySpark CDC/incremental-ingest engine CLI",
    )
    p.add_argument("--master", default=None, help="Spark master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, table_default="repo_files"):
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--table", default=table_default)

    sp = sub.add_parser("ingest", help="batch WAL replay in lsn-ordered epochs")
    common(sp)
    sp.add_argument("--wal", required=True)
    sp.add_argument("--fmt", default="parquet", choices=["parquet", "jsonl", "csv"])
    sp.add_argument("--epoch-size", type=int, default=100_000)
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--compact-every", type=int, default=None)
    sp.add_argument("--expire-keep-last", type=int, default=None)
    sp.add_argument(
        "--atomic", action="store_true",
        help="publish each epoch's main + derived merges from one "
        "multi-table transaction (all-or-nothing; default converges by "
        "per-table idempotence)",
    )
    sp.add_argument(
        "--txn-boundaries", action="store_true",
        help="Debezium transaction-metadata semantics: apply only committed "
        "producer transactions, each in its commit-position epoch "
        "(streaming/txn_gate.py)",
    )
    sp.add_argument(
        "--max-txn-span", type=int, default=None,
        help="producer-declared bound on a transaction's lsn span "
        "(verified; enables two-sided scan pruning per epoch)",
    )

    sp = sub.add_parser("stream", help="tail a WAL directory (exactly-once)")
    common(sp)
    sp.add_argument("--wal", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--max-files-per-trigger", type=int, default=None)
    sp.add_argument("--compact-every", type=int, default=None)
    sp.add_argument("--expire-keep-last", type=int, default=None)
    sp.add_argument(
        "--follow", action="store_true",
        help="keep running on a processing-time trigger instead of "
        "draining the backlog and stopping (availableNow)",
    )
    sp.add_argument(
        "--atomic", action="store_true",
        help="publish each micro-batch's main + derived merges from one "
        "multi-table transaction",
    )
    sp.add_argument(
        "--txn-boundaries", action="store_true",
        help="withhold incomplete producer transactions across micro-batches "
        "(pending sidecar under the checkpoint dir); a transaction lands "
        "atomically in the batch where it completes",
    )

    sp = sub.add_parser("replay", help="full/selective replay into a fresh table")
    common(sp, table_default="repo_files_replay")
    sp.add_argument("--wal", required=True)
    sp.add_argument("--fmt", default="parquet", choices=["parquet", "jsonl", "csv"])
    sp.add_argument("--epoch-size", type=int, default=100_000)
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--repo", default=None)
    sp.add_argument("--path", default=None)
    sp.add_argument("--lsn-range", type=int, nargs=2, default=None)
    sp.add_argument("--reason", default="cli replay")

    sp = sub.add_parser("compact", help="fold MoR deltas / re-cluster the base")
    common(sp)
    sp.add_argument("--max-delta-depth", type=int, default=None)
    sp.add_argument("--files-per-bucket", type=int, default=None)
    sp.add_argument("--zorder", default=None, help="comma-separated columns")

    sp = sub.add_parser("expire", help="expire old snapshots")
    common(sp)
    sp.add_argument("--keep-last", type=int, required=True)
    sp.add_argument(
        "--older-than", type=float, default=None,
        help="also keep every ancestor committed within the last N seconds "
        "(Iceberg age-based retention; composes with --keep-last as a union)",
    )

    sp = sub.add_parser(
        "purge",
        help="row takedown (Engine.purge_where) — REFUSES if the warehouse "
        "registry lists derived tables this process hasn't re-registered "
        "(their derive fns are code); --main-only sweeps just the main table",
    )
    common(sp)
    sp.add_argument("--predicate", required=True, help="SQL predicate over the table")
    sp.add_argument("--epoch", type=int, required=True)
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument(
        "--main-only", action="store_true",
        help="deliberately skip the derived-table cascade",
    )

    sp = sub.add_parser(
        "vacuum",
        help="remove orphan data files (crashed writers' pre-commit "
        "leftovers, discarded stages) — dry-run report by default; "
        "--delete sweeps files older than --older-than-hours under the "
        "CAS + in-flight-writer guards; metadata only, no Spark job",
    )
    common(sp)
    sp.add_argument("--delete", action="store_true")
    sp.add_argument(
        "--older-than-hours", type=float, default=72.0,
        help="age guard (Iceberg remove_orphan_files default: 72h) — a "
        "slow in-flight writer's files look orphaned until it commits",
    )

    sp = sub.add_parser("inspect", help="metadata tables (files/snapshots/refs)")
    common(sp)
    sp.add_argument(
        "--what",
        default="files",
        choices=["files", "snapshots", "refs", "quarantine", "count"],
    )

    sp = sub.add_parser("metrics", help="per-epoch lineage/metrics table")
    common(sp)

    sp = sub.add_parser(
        "recover",
        help="roll forward (or compensate) every decided-but-unfinished "
        "multi-table transaction in the warehouse — run before a new "
        "writer after a crash of an --atomic ingest",
    )
    sp.add_argument("--warehouse", required=True)

    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    import os

    from data_exchange_hl7_spark.engine import Engine, read_sidecar
    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.session import build_session
    from data_exchange_hl7_spark.sources import read_wal

    spark = build_session(master=args.master)
    loc = (
        os.path.join(args.warehouse, args.table)
        if getattr(args, "table", None)
        else args.warehouse
    )

    if args.cmd == "ingest":
        from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

        eng = Engine(spark, args.warehouse, n_buckets=args.buckets)
        t = eng.snapshot_table(args.table)
        stats = MicroBatchRunner(
            eng,
            epoch_size=args.epoch_size,
            compact_every=args.compact_every,
            expire_keep_last=args.expire_keep_last,
            atomic=args.atomic,
            txn_boundaries=args.txn_boundaries,
            max_txn_span=args.max_txn_span,
        ).run(read_wal(spark, args.wal, fmt=args.fmt), t)
        for s in stats:
            print(json.dumps(s))
        print(json.dumps({"table": args.table, "rows": t.snapshot().count()}))

    elif args.cmd == "stream":
        from data_exchange_hl7_spark.streaming.stream_ingest import stream_apply

        eng = Engine(spark, args.warehouse, n_buckets=args.buckets)
        t = eng.snapshot_table(args.table)
        # a tail started before any producer wrote cannot infer a schema
        # from existing files — fall back to the canonical WAL schema
        from data_exchange_hl7_spark.sources import wal_schema

        try:
            schema = spark.read.parquet(args.wal).schema
        except Exception:
            schema = wal_schema()
        q = stream_apply(
            spark,
            eng,
            args.wal,
            t,
            args.checkpoint,
            schema=schema,
            available_now=not args.follow,
            processing_time="10 seconds" if args.follow else None,
            max_files_per_trigger=args.max_files_per_trigger,
            compact_every=args.compact_every,
            expire_keep_last=args.expire_keep_last,
            atomic=args.atomic,
            txn_boundaries=args.txn_boundaries,
        )
        q.awaitTermination()
        print(json.dumps({"table": args.table, "rows": t.snapshot().count()}))

    elif args.cmd == "replay":
        from data_exchange_hl7_spark.streaming.runner import replay

        eng = Engine(spark, args.warehouse, n_buckets=args.buckets)
        t = replay(
            eng,
            read_wal(spark, args.wal, fmt=args.fmt),
            table_name=args.table,
            epoch_size=args.epoch_size,
            repo=args.repo,
            path=args.path,
            lsn_range=tuple(args.lsn_range) if args.lsn_range else None,
            reason=args.reason,
        )
        print(json.dumps({"table": args.table, "rows": t.snapshot().count()}))

    elif args.cmd == "compact":
        t = LakeTable(spark, loc)
        kw = {}
        if args.max_delta_depth is not None:
            kw["max_delta_depth"] = args.max_delta_depth
        if args.files_per_bucket is not None:
            kw["files_per_bucket"] = args.files_per_bucket
        if args.zorder:
            kw["zorder_cols"] = args.zorder.split(",")
        t.compact(**kw)
        print(json.dumps({"table": args.table, "snapshot": t.current_snapshot()["snapshot_id"]}))

    elif args.cmd == "expire":
        t = LakeTable(spark, loc)
        r = t.expire_snapshots(
            keep_last=args.keep_last, older_than_s=args.older_than
        )
        print(json.dumps({"table": args.table, "kept_last": args.keep_last,
                          "removed_snapshots": r["removed_snapshots"],
                          "removed_files": r["removed_files"]}))

    elif args.cmd == "purge":
        if not LakeTable.exists(loc):
            # snapshot_table would CREATE an empty table here — a typo'd
            # --table must fail the takedown loudly, not report success
            print(json.dumps({"error": f"no table at {loc}"}), file=sys.stderr)
            return 2
        eng = Engine(spark, args.warehouse, n_buckets=args.buckets)
        t = eng.snapshot_table(args.table)
        r = eng.purge_where(
            t, args.predicate, epoch=args.epoch, main_only=args.main_only
        )
        print(json.dumps(r, default=str))

    elif args.cmd == "vacuum":
        if not LakeTable.exists(loc):
            # a typo'd --table must fail loudly, not report a clean vacuum
            print(json.dumps({"error": f"no table at {loc}"}), file=sys.stderr)
            return 2
        t = LakeTable(spark, loc)
        if args.delete:
            r = t.remove_orphans(older_than_s=args.older_than_hours * 3600)
            print(json.dumps({"table": args.table, **r}))
        else:
            rows = t.orphan_files().collect()  # a local relation: no job
            print(json.dumps({
                "table": args.table,
                "dry_run": True,
                "orphans": [row.asDict() for row in rows],
            }, default=str))

    elif args.cmd == "inspect":
        t = LakeTable(spark, loc)
        if args.what == "count":
            n, metadata_only = t.count_rows()
            print(json.dumps({"rows": n, "metadata_only": metadata_only}))
            return 0
        df = {
            "files": t.meta_files,
            "snapshots": t.meta_snapshots,
            "refs": t.meta_refs,
            "quarantine": t.quarantine,
        }[args.what]()
        for row in df.collect():  # metadata-sized by construction
            # (quarantine is O(violations); a takedown audit wants the rows)
            print(json.dumps(row.asDict(), default=str))

    elif args.cmd == "recover":
        from data_exchange_hl7_spark.lake.txn import MultiTableTransaction

        out = MultiTableTransaction.recover(
            spark, os.path.join(args.warehouse, "_txn")
        )
        print(json.dumps({"recovered": out}, default=str))

    elif args.cmd == "metrics":
        # Engine.metrics' reader without constructing an Engine, so a
        # typo'd warehouse fails loudly instead of makedirs-ing a junk
        # directory
        df = read_sidecar(spark, args.warehouse, "_metrics", args.table)
        for row in df.collect():  # O(epochs) rows
            print(json.dumps(row.asDict(), default=str))

    return 0


if __name__ == "__main__":
    sys.exit(main())
