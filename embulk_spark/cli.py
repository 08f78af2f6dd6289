"""CLI: ``python -m embulk_spark.cli {run|guess|preview|replay} config.yml``.

Mirrors the reference's command surface (cli/Command.java:3-22, dispatch
cli/EmbulkRun.java:23-120) minus plugin management (gem/mkbundle — no
classloaders here; see SURVEY.md §2.8):

- ``run config.yml [-c diff.yml]`` — execute; merge the previous ConfigDiff
  when ``-c`` is given and write the new one back to it
  (EmbulkRunner.java:252-258,329-334).
- ``guess config.yml [-o guessed.yml]`` — schema/format inference
  (EmbulkRunner.java:45-61,193-209).
- ``preview config.yml [-G]`` — first 15 rows, table or vertical
  (EmbulkRunner.java:92-130,211-229; -G is the reference's vertical flag).
- ``replay`` — the CDC surface (no reference analogue; north-rule): tail a
  change-event parquet log into the exactly-once lake table, either batch
  (``--once``) or via Structured Streaming with a checkpoint.

Designed to run under ``spark-submit --py-files embulk_spark.zip`` on a
real cluster; locally it builds its own session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from . import pipeline as P
from .session import get_spark


def _add_common(sp: argparse.ArgumentParser) -> None:
    sp.add_argument("config", help="pipeline YAML config")
    sp.add_argument("--master", default=None, help="spark master (default env/local)")


#: --source-format values tailed by streaming/replay.py::stream_binlog
_WIRE_FORMATS = ("debezium", "maxwell", "canal", "wal2json")


def _replay_unsupported(args) -> str | None:
    """Why the ``replay`` flags don't combine, or None — every flag the
    chosen surface would otherwise ignore is refused, not dropped."""
    followers = [
        flag for flag, on in (
            ("--signature-index", args.signature_index),
            ("--bloom-index", args.bloom_index),
            ("--term-index", args.term_index),
            ("--agg-view", args.agg_view),
            ("--export", args.export),
        ) if on
    ]
    if args.agg_view and not args.agg_view_spec:
        return "--agg-view requires --agg-view-spec"
    if args.agg_view_spec and not args.agg_view:
        return "--agg-view-spec requires --agg-view"
    if args.route_catalog and not args.route:
        return "--route-catalog requires --route"
    if args.route:
        bad = followers + [
            flag for flag, on in (
                ("--wap-rules", args.wap_rules),
                ("--ref", args.ref != "main"),
            ) if on
        ]
        if bad:
            return f"--route does not support {', '.join(bad)}"
        if args.checkpoint and args.route_catalog:
            return ("--route-catalog is batch-mode only (atomic catalog "
                    "flips per epoch); drop --checkpoint")
        if args.checkpoint and args.source_format not in _WIRE_FORMATS:
            return ("--route with --checkpoint requires a binlog "
                    "--source-format (debezium|maxwell|canal|wal2json)")
    if args.checkpoint:
        if args.max_epochs is not None:
            return "--max-epochs is batch-mode only; drop --checkpoint"
        if args.source_format != "events":
            bad = followers + (["--wap-rules"] if args.wap_rules else [])
            if bad:
                return (f"--source-format {args.source_format} does not "
                        f"support {', '.join(bad)}")
    elif args.source_format != "events":
        return "--source-format needs --checkpoint (batch mode reads parquet)"
    if args.txn_align and not (
        args.checkpoint and args.source_format in ("wal2json", "maxwell")
    ):
        return "--txn-align needs --checkpoint with --source-format wal2json|maxwell"
    return None


def _cmd_example(base: str) -> int:
    """``example`` subcommand (reference cli/EmbulkExample.java): write a
    gzipped sample csv plus a seed config whose parser section is left
    for ``guess`` to fill, then print the three commands to try. The
    sample exercises the guesser's interesting paths: timestamps, a
    quoted field with an embedded doubled quote, and a NULL marker."""
    import gzip

    csv_dir = os.path.join(base, "csv")
    os.makedirs(csv_dir, exist_ok=True)
    print(f"Creating {base} directory...")
    print(f"  Creating {base}/")
    print(f"  Creating {csv_dir}/")
    sample = os.path.join(csv_dir, "sample_01.csv.gz")
    print(f"  Creating {sample}")
    rows = (
        "id,account,time,purchase,comment\n"
        "1,50214,2026-02-03 08:14:27,20260203,spark\n"
        "2,19633,2026-02-03 09:41:05,20260203,spark pyspark\n"
        '3,28745,2026-02-04 12:30:44,20260204,"csv ""quoted"" field"\n'
        "4,33912,2026-02-05 16:08:19,20260205,NULL\n"
        "\n"
    )
    with gzip.open(sample, "wb") as f:
        f.write(rows.encode("utf-8"))
    seed = os.path.join(base, "seed.yml")
    print(f"  Creating {seed}")
    prefix = os.path.abspath(os.path.join(csv_dir, "sample_"))
    with open(seed, "w") as f:
        f.write("in:\n  type: file\n")
        f.write(f"  path_prefix: '{prefix}'\nout:\n  type: stdout\n")
    print("")
    print("Run following subcommands to try embulk_spark:")
    print("")
    print(f"   1. python -m embulk_spark guess {seed} -o config.yml")
    print("   2. python -m embulk_spark preview config.yml")
    print("   3. python -m embulk_spark run config.yml")
    print("")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="embulk_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("run", help="run a pipeline")
    _add_common(sp)
    sp.add_argument("-c", "--config-diff", default=None,
                    help="ConfigDiff YAML: merged before run, rewritten after")
    sp.add_argument("-r", "--resume-state", default=None,
                    help="resume-state JSON path: per-file-group transaction "
                         "log; re-invoking with the same file skips committed "
                         "groups (reference `embulk run -r`, "
                         "EmbulkRunner.java:278-327)")

    sp = sub.add_parser("guess", help="infer format/schema")
    _add_common(sp)
    sp.add_argument("-o", "--output", default=None, help="write guessed config here")

    sp = sub.add_parser("preview", help="show the first 15 rows")
    _add_common(sp)
    sp.add_argument("-G", "--vertical", action="store_true")
    sp.add_argument("-n", "--rows", type=int, default=P.PREVIEW_ROWS)

    sp = sub.add_parser("replay", help="CDC: apply a change-event log to a lake table")
    sp.add_argument("events", help="parquet change-event directory")
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--master", default=None)
    sp.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (enables readStream mode)")
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--max-epochs", type=int, default=None)
    sp.add_argument("--signature-index", default=None,
                    help="path of a near-dup MinHash signature index kept "
                         "in lockstep with the replay (operators/incremental)")
    sp.add_argument("--bloom-index", default=None,
                    help="path of a Bloom membership fingerprint kept in "
                         "lockstep with the replay (operators/bloom)")
    sp.add_argument("--term-index", default=None,
                    help="path of an inverted term-stats index kept in "
                         "lockstep with the replay (operators/termindex): "
                         "corpus df/BM25 statistics track the WAL")
    sp.add_argument("--quarantine-rules", default=None,
                    help="JSON list of validate rules; invalid events "
                         "dead-letter to <table>/quarantine/e<epoch> "
                         "instead of merging (streaming/replay.py)")
    sp.add_argument("--wap-rules", default=None,
                    help="JSON list of validate rules; every epoch commits "
                         "write-audit-publish: staged invisibly, audited, "
                         "published only if clean (all-or-nothing gate; "
                         "a violation halts with the stage intact)")
    sp.add_argument("--export", default=None,
                    help="path of a corpus export (sinks/corpus, created "
                         "with the export subcommand) kept in lockstep: "
                         "each epoch's change-set folds in after commit")
    sp.add_argument("--ref", default="main",
                    help="commit to this branch ref instead of main "
                         "(create it first with the branch subcommand); "
                         "publish with fast-forward")
    sp.add_argument("--agg-view", default=None,
                    help="path of an incremental materialized aggregate "
                         "view kept in lockstep (operators/aggview): "
                         "grouped sums with retractions, O(Δ) per epoch")
    sp.add_argument("--agg-view-spec", default=None,
                    help="JSON AggView spec for --agg-view, e.g. "
                         '\'{"key_sql": "lang", "key_name": "lang", '
                         '"measures": {"bytes": "octet_length(html)"}}\' '
                         "(must match an existing view's pinned meta)")
    sp.add_argument("--route", default=None,
                    help="multi-table binlog fan-out: JSON map of "
                         "table-tag → lake path; events route by "
                         "--route-col with per-(table, epoch) "
                         "exactly-once (streaming/replay.py::route_epoch). "
                         "The positional `table` arg is ignored.")
    sp.add_argument("--route-col", default="table",
                    help="column carrying the destination table tag")
    sp.add_argument("--route-catalog", default=None,
                    help="with --route (batch mode): commit the fan-out "
                         "through a LakeCatalog at this path — every "
                         "epoch becomes visible across ALL destinations "
                         "in one atomic pointer flip "
                         "(replay.route_epoch_atomic); table paths live "
                         "under <catalog>/tables/")
    sp.add_argument("--source-format", default="events",
                    choices=["events", "debezium", "maxwell", "canal",
                             "wal2json", "warc"],
                    help="with --checkpoint: what the events dir holds — "
                         "parquet change events (default), binlog envelope "
                         "jsonl files (stream_binlog), or .warc archives "
                         "(stream_warc)")
    sp.add_argument("--txn-align", action="store_true",
                    help="wal2json/maxwell: defer rows whose source "
                         "transaction's commit marker hasn't arrived, so "
                         "every epoch is a prefix of committed source "
                         "transactions")

    sp = sub.add_parser(
        "changes",
        help="CDC out: read the net change feed of an epoch range from a "
             "lake table (O(change-set) incremental consumer read)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--since-epoch", type=int, default=None,
                    help="exclusive lower bound (the consumer's cursor)")
    sp.add_argument("--follow", default=None,
                    help="exactly-once consumer mode: drain everything "
                         "committed since this directory's _cursor.json "
                         "into a new range dir and advance the cursor "
                         "(poll from cron — the CDC-out daemon step)")
    sp.add_argument("--until-epoch", type=int, default=None,
                    help="inclusive upper bound (default: current)")
    sp.add_argument("--out", default=None,
                    help="write the feed as parquet here instead of printing")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "replicate",
        help="maintain a downstream replica lake table from a source "
             "table's change feed (one crash-safe sync step; poll from "
             "cron — the replication daemon)",
    )
    sp.add_argument("table", help="source lake table path")
    sp.add_argument("replica", help="replica lake table path")
    sp.add_argument("feed_dir", help="feed directory (cursor + range dirs)")
    sp.add_argument("--buckets", type=int, default=16,
                    help="replica bucket count (may differ from source)")
    sp.add_argument("--prune", action="store_true",
                    help="delete range dirs already applied to the replica")
    sp.add_argument("--evolve", action="store_true",
                    help="propagate additive source schema evolution "
                         "(new feed columns become replica add_column DDLs)")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "export",
        help="corpus out: sharded training-corpus export of a lake "
             "table's published state (+ audit manifest), or an "
             "incremental refresh from its change feed",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("export", help="export directory")
    sp.add_argument("--n-shards", type=int, default=16)
    sp.add_argument("--refresh-since-epoch", type=int, default=None,
                    help="fold the change feed (since, until] into an "
                         "existing export instead of a full export")
    sp.add_argument("--refresh-until-epoch", type=int, default=None)
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "delete",
        help="predicate DELETE as a CDC commit: matching live rows "
             "tombstone via the idempotent epoch path (GDPR/RTBF); "
             "physical purge happens at the next compaction",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("condition", help="SQL predicate over the row schema")
    sp.add_argument("--epoch", type=int, required=True)
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "purge",
        help="PHYSICAL right-to-be-forgotten: remove every stored version "
             "of the given urls from disk — victim buckets rewrite, all "
             "deltas fold, history expires, orphans delete, quarantine "
             "rewrites (lake.purge_keys)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("urls", nargs="+", help="merge keys to purge")
    sp.add_argument("--keep-history", action="store_true",
                    help="skip snapshot expiry + orphan delete (NOT "
                         "compliant until you expire later)")
    sp.add_argument("--drop-tags", action="store_true",
                    help="release tag refs pinning pre-purge snapshots")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "update",
        help="predicate UPDATE as a CDC commit: matching live rows get "
             "--set expressions applied as newer full-image events "
             "(backfills/re-tagging); html rewrites re-extract text",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("condition", help="SQL predicate over the row schema")
    sp.add_argument("--set", required=True, dest="set_exprs",
                    help='JSON map column → SQL expr, e.g. '
                         '\'{"lang": "\'de\'"}\'')
    sp.add_argument("--epoch", type=int, required=True)
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "rollback",
        help="restore a lake table to an earlier snapshot (publishes a "
             "new snapshot; the undone epochs replay through the normal "
             "idempotent path)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--to-version", type=int, required=True)
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "show",
        help="read a lake table's published rows, optionally "
             "time-traveled (--version N, --tag NAME, or --as-of "
             "'2026-01-01T12:00:00' / epoch seconds)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--version", type=int, default=None)
    sp.add_argument("--tag", default=None)
    sp.add_argument("--as-of", default=None,
                    help="wall-clock instant: ISO 8601 (naive = UTC) or "
                         "epoch seconds")
    sp.add_argument("--rows", type=int, default=20)
    sp.add_argument("--count", action="store_true",
                    help="print only the row count")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "verify",
        help="anti-entropy: recompute the expected final state from a "
             "raw change-event log and diff it against the lake table "
             "(missing/extra/mismatched url counts; exit 1 on any)",
    )
    sp.add_argument("events", help="parquet change-event directory")
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--no-extract", action="store_true",
                    help="skip text comparison (seq-only check)")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "tag",
        help="pin (or drop) an immutable named snapshot ref; tagged "
             "snapshots survive cleanup's snapshot expiry",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("name", help="tag name")
    sp.add_argument("--version", type=int, default=None)
    sp.add_argument("--drop", action="store_true")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "rebucket",
        help="partition evolution: rewrite a lake table under a new "
             "bucket count (atomic; old snapshots keep the old layout)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--n-buckets", type=int, required=True)
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "branch",
        help="branch refs (Iceberg branch semantics): create a branch "
             "from the current head, list branches, or drop one; commit "
             "to a branch via replay --ref, publish via fast-forward",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("name", nargs="?", default=None,
                    help="branch name (omit with --list)")
    sp.add_argument("--at-version", type=int, default=None)
    sp.add_argument("--drop", action="store_true")
    sp.add_argument("--list", action="store_true")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "fast-forward",
        help="publish a branch's head as main's next snapshot (atomic, "
             "manifest-only; refuses if main advanced past the fork)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("name", help="branch name")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "compact",
        help="fold pending deltas into the bucketed base: full rewrite, "
             "--hot (only buckets whose deltas exceed --ratio x their base "
             "slice; cold remainder binpacks to a residual group), or "
             "--buckets for an explicit partial fold (--buckets '' = pure "
             "delta binpack, base untouched)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--hot", action="store_true",
                    help="per-bucket partial fold (compact_hot)")
    sp.add_argument("--ratio", type=float, default=None,
                    help="per-bucket fold trigger for --hot "
                         "(default: the table's compact_ratio)")
    sp.add_argument("--max-buckets", type=int, default=None,
                    help="cap --hot to the N hottest buckets")
    sp.add_argument("--buckets", default=None,
                    help="comma-separated bucket ids for an explicit "
                         "partial fold; empty string = delta binpack")
    sp.add_argument("--tombstone-retention-ts", default=None,
                    help="drop tombstones older than this watermark")
    sp.add_argument("--target-file-bytes", type=int, default=None,
                    help="size the fold's output to ~this many bytes per "
                         "file (Delta OPTIMIZE target file size); default "
                         "follows spark.sql.shuffle.partitions")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "catalog",
        help="multi-table catalog ops: inspect the pinned-version head, "
             "register a table, recover crashed transactions (roll "
             "forward, or --abort if nothing published), expire old "
             "catalog versions and their retention leases",
    )
    sp.add_argument("path", help="catalog directory")
    sp.add_argument("--create-table", default=None, metavar="NAME")
    sp.add_argument("--buckets", type=int, default=16,
                    help="bucket count for --create-table")
    sp.add_argument("--recover", action="store_true")
    sp.add_argument("--abort", action="store_true",
                    help="with --recover: discard transactions none of "
                         "whose epochs has been published (others still "
                         "roll forward)")
    sp.add_argument("--expire", type=int, default=None, metavar="KEEP",
                    help="retire catalog versions older than the newest "
                         "KEEP (drops their snapshot retention leases)")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "import",
        help="initial bulk load: land a parquet snapshot directly as the "
             "bucketed base of an EMPTY lake table (one job, no "
             "delta/compaction debt); idempotent by --epoch",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("source", help="parquet path holding the snapshot rows")
    sp.add_argument("--epoch", type=int, default=0)
    sp.add_argument("--no-extract", action="store_true",
                    help="don't fill text from html")
    sp.add_argument("--n-buckets", type=int, default=16,
                    help="bucket count if the table is being created")
    sp.add_argument("--target-file-bytes", type=int, default=None)
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "properties",
        help="show or durably set table properties (ALTER TABLE SET "
             "TBLPROPERTIES): physical knobs every default-opened handle "
             "adopts (stats/sort columns, cluster mode, blooms, compact "
             "triggers, target file size)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--set", action="append", default=[], metavar="K=V",
                    help="property to change; V is JSON (repeatable), "
                         "e.g. --set 'stats_columns=[\"lang\"]' "
                         "--set target_file_bytes=134217728")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "requeue",
        help="dead-letter redrive: re-apply quarantined events as one "
             "new idempotent epoch (still-invalid rows re-quarantine; "
             "source quarantine drains after the commit)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--epoch", type=int, required=True,
                    help="epoch id for the redrive commit")
    sp.add_argument("--from-epochs", default=None,
                    help="comma-separated source epochs (default: all)")
    sp.add_argument("--quarantine-rules", default=None,
                    help="JSON list of validate rules to re-check")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "snapshot-apply",
        help="ingest a periodic FULL dump by diffing it against live "
             "state (the diff IS the binlog): unchanged rows emit "
             "nothing, changed/new upsert, missing delete; one "
             "idempotent epoch commit",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("source", help="parquet path holding the full dump")
    sp.add_argument("--epoch", type=int, required=True)
    sp.add_argument("--compare", default="html",
                    help="comma-separated content columns the diff hashes")
    sp.add_argument("--delete-ts", default=None,
                    help="tombstone instant for urls missing from the dump "
                         "(required unless --no-delete-missing)")
    sp.add_argument("--no-delete-missing", action="store_true")
    sp.add_argument("--no-extract", action="store_true")
    sp.add_argument("--assume-unique", action="store_true",
                    help="dump is one row per url: skip its dedup pass")
    sp.add_argument("--n-buckets", type=int, default=16)
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "clone",
        help="zero-copy shallow clone: new independent table whose v0 is "
             "this table's state (hard-linked data files; survives the "
             "source's cleanup)",
    )
    sp.add_argument("table", help="source lake table path")
    sp.add_argument("dest", help="destination table path (fresh dir)")
    sp.add_argument("--version", type=int, default=None,
                    help="clone a time-travel version instead of current")
    sp.add_argument("--master", default=None)

    sp = sub.add_parser(
        "cleanup",
        help="expire old snapshots and remove orphaned data files "
             "(reference cli/Command.java:5, exec/BulkLoader.java:471-505)",
    )
    sp.add_argument("table", help="lake table path")
    sp.add_argument("--master", default=None)
    sp.add_argument("--grace-seconds", type=float, default=3600.0)
    sp.add_argument("--keep-snapshots", type=int, default=10)

    sp = sub.add_parser(
        "example",
        help="create a sample csv + seed config to try the "
             "guess/preview/run loop (reference cli/Command.java:7, "
             "cli/EmbulkExample.java)",
    )
    sp.add_argument("path", nargs="?", default="embulk-example",
                    help="directory to create (default: embulk-example)")

    args = ap.parse_args(argv)
    if args.cmd == "replay" and (why := _replay_unsupported(args)):
        ap.error(why)
    if args.cmd == "example":
        # no Spark session needed: pure file generation
        return _cmd_example(args.path)
    spark = get_spark(f"embulk_spark_{args.cmd}", master=args.master)

    if args.cmd == "run":
        config = P.load_config(args.config)
        diff = P.load_config(args.config_diff) if args.config_diff else None
        if args.resume_state:
            if diff:
                config = P.deep_merge(config, {"in": diff.get("in", {})})
            new_diff = P.run_resumable(spark, config, args.resume_state)
        else:
            new_diff = P.run(spark, config, diff)
        if args.config_diff:
            with open(args.config_diff, "w") as f:
                f.write(P.dump_config(new_diff))
        print(json.dumps(new_diff))
        return 0

    if args.cmd == "guess":
        config = P.guess(spark, P.load_config(args.config))
        text = P.dump_config(config)
        if args.output:
            with open(args.output, "w") as f:
                f.write(text)
        print(text)
        return 0

    if args.cmd == "preview":
        df = P.preview(spark, P.load_config(args.config), n=args.rows)
        df.show(args.rows, truncate=False, vertical=args.vertical)
        return 0

    if args.cmd == "replay":
        from .streaming.lake import ParquetLakeTable
        from .streaming.replay import replay_batches, stream_events

        if args.route:
            from pyspark.sql import functions as F

            from .streaming.replay import route_epoch

            qrules = (
                json.loads(args.quarantine_rules) if args.quarantine_rules else None
            )
            tables = (
                {}
                if args.route_catalog
                else {
                    name: ParquetLakeTable(spark, path, n_buckets=args.buckets)
                    for name, path in json.loads(args.route).items()
                }
            )
            if args.checkpoint:
                # routed STREAMING tail: the envelope's own table tag
                # routes each micro-batch (stream_binlog route mode)
                from .streaming.replay import stream_binlog

                stream_binlog(
                    spark, None, args.events, args.checkpoint,
                    wire_format=args.source_format, route=tables,
                    quarantine_rules=qrules, txn_align=args.txn_align,
                )
                return 0
            from .streaming.replay import list_epoch_partitions

            events = spark.read.parquet(args.events)
            # epoch list from the partition layout (one FS listing, no
            # Spark job); distinct-scan only for unpartitioned logs
            epochs = list_epoch_partitions(args.events)
            if epochs is None:
                epochs = sorted(
                    r["epoch"]
                    for r in events.select("epoch").distinct().collect()
                )
            if args.max_epochs is not None:
                epochs = epochs[: args.max_epochs]
            cat = None
            if args.route_catalog:
                # atomic mode: ignore the per-table route map, register
                # each destination in a LakeCatalog, and flip every
                # epoch into view with ONE catalog pointer move
                from .streaming.catalog import LakeCatalog
                from .streaming.replay import route_epoch_atomic

                cat = LakeCatalog(spark, args.route_catalog)
                have = set(cat.head()["tables"])
                for name, path in json.loads(args.route).items():
                    if name not in have:
                        cat.create_table(name, n_buckets=args.buckets)
            for e in epochs:
                if cat is not None:
                    rep = route_epoch_atomic(
                        cat,
                        events.filter(F.col("epoch") == e).drop("epoch"),
                        int(e),
                        table_col=args.route_col,
                        quarantine_rules=qrules,
                    )
                else:
                    rep = route_epoch(
                        tables,
                        events.filter(F.col("epoch") == e).drop("epoch"),
                        int(e),
                        table_col=args.route_col,
                        quarantine_rules=qrules,
                    )
                print(json.dumps(rep, default=str))
            return 0

        table = ParquetLakeTable(
            spark, args.table, n_buckets=args.buckets, ref=args.ref
        )
        followers = []
        if args.signature_index:
            from .operators.incremental import SignatureIndex

            followers.append(SignatureIndex(
                spark, args.signature_index, id_col="url", id_type="string",
                order_cols=["warc_ts", "seq"],
            ))
        if args.bloom_index:
            from .operators.bloom import BloomIndex

            followers.append(BloomIndex(spark, args.bloom_index))
        if args.term_index:
            from .operators.termindex import TermIndex

            followers.append(TermIndex(
                spark, args.term_index, id_col="url", id_type="string",
                order_cols=["warc_ts", "seq"],
                order_types=["timestamp", "bigint"],
            ))
        if args.agg_view:
            from .operators.aggview import AggView

            followers.append(AggView(spark, args.agg_view,
                                     **json.loads(args.agg_view_spec)))
        if args.export:
            from .sinks.corpus import MANIFEST, CorpusExport, export_from_lake

            if not os.path.exists(os.path.join(args.export, MANIFEST)):
                # bootstrap: seed the export from current table state
                export_from_lake(spark, table, args.export)
            followers.append(CorpusExport(args.export))
        qrules = json.loads(args.quarantine_rules) if args.quarantine_rules else None
        wrules = json.loads(args.wap_rules) if args.wap_rules else None
        if args.checkpoint:
            if args.source_format in _WIRE_FORMATS:
                from .streaming.replay import stream_binlog

                stream_binlog(
                    spark, table, args.events, args.checkpoint,
                    wire_format=args.source_format, quarantine_rules=qrules,
                    txn_align=args.txn_align,
                )
            elif args.source_format == "warc":
                from .streaming.replay import stream_warc

                stream_warc(
                    spark, table, args.events, args.checkpoint,
                    quarantine_rules=qrules,
                )
            else:
                stream_events(
                    spark, table, args.events, args.checkpoint,
                    followers=followers, quarantine_rules=qrules,
                    wap_rules=wrules,
                )
        else:
            events = spark.read.parquet(args.events)
            metrics = replay_batches(
                table, events, max_epochs=args.max_epochs,
                followers=followers, quarantine_rules=qrules, wap_rules=wrules,
            )
            for m in metrics:
                print(json.dumps(m, default=str))
        return 0

    if args.cmd == "changes":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        if args.follow is not None:
            print(json.dumps(table.consume_changes(args.follow)))
            return 0
        if args.since_epoch is None:
            ap.error("provide --since-epoch, or --follow for cursor mode")
        feed = table.changes_between(args.since_epoch, args.until_epoch)
        if args.out:
            feed.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                              "out": args.out}))
        else:
            feed.show(50, truncate=False)
        return 0

    if args.cmd == "replicate":
        from .streaming.lake import ParquetLakeTable
        from .streaming.replicate import replicate_step

        source = ParquetLakeTable(spark, args.table)
        replica = ParquetLakeTable(spark, args.replica, n_buckets=args.buckets)
        out = replicate_step(source, replica, args.feed_dir,
                             prune=args.prune, evolve=args.evolve)
        print(json.dumps(out, default=str))
        return 0

    if args.cmd == "export":
        from .sinks.corpus import export_from_lake, refresh_from_changes
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        if args.refresh_since_epoch is not None:
            feed = table.changes_between(
                args.refresh_since_epoch, args.refresh_until_epoch
            )
            manifest = refresh_from_changes(spark, args.export, feed)
        else:
            manifest = export_from_lake(
                spark, table, args.export, n_shards=args.n_shards
            )
        print(json.dumps({
            "out": args.export,
            "rows": manifest["total_rows"],
            "n_tokens": manifest["total_tokens"],
            "version": manifest.get("version", 0),
        }))
        return 0

    if args.cmd == "delete":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        print(json.dumps(table.delete_where(args.condition, args.epoch),
                         default=str))
        return 0

    if args.cmd == "purge":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        print(json.dumps(
            table.purge_keys(
                args.urls,
                expire_history=not args.keep_history,
                drop_tags=args.drop_tags,
            ),
            default=str,
        ))
        return 0

    if args.cmd == "update":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        print(json.dumps(
            table.update_where(
                args.condition, json.loads(args.set_exprs), args.epoch
            ),
            default=str,
        ))
        return 0

    if args.cmd == "rollback":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        print(json.dumps(table.rollback_to(args.to_version)))
        return 0

    if args.cmd == "show":
        import os as _os

        from .streaming.lake import ParquetLakeTable

        # inspection must not BOOTSTRAP: the constructor creates dirs +
        # a v0 snapshot, so a typo'd path would print 0 rows and leave a
        # junk empty table behind
        if not _os.path.isdir(_os.path.join(args.table, "snapshots")):
            print(f"error: no lake table at {args.table!r}", file=sys.stderr)
            return 1
        table = ParquetLakeTable(spark, args.table)
        picked = sum(x is not None for x in (args.version, args.tag, args.as_of))
        if picked > 1:
            ap.error("--version, --tag, and --as-of are mutually exclusive")
        if args.as_of is not None:
            # ISO first: digit-only strings like '2026' or '20260819'
            # are almost always dates, and float-first would silently
            # read them as 1970-era epoch SECONDS
            from datetime import datetime

            try:
                ts = datetime.fromisoformat(args.as_of)
            except ValueError:
                ts = float(args.as_of)
            df = table.read_as_of(ts)
        elif args.tag is not None:
            df = table.read_tag(args.tag)
        elif args.version is not None:
            df = table.published(version=args.version)
        else:
            df = table.published()
        if args.count:
            print(df.count())
        else:
            df.show(args.rows, truncate=False)
        return 0

    if args.cmd == "verify":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        events = spark.read.parquet(args.events)
        out = table.verify_against_events(
            events, extract=not args.no_extract
        )
        print(json.dumps(out))
        return 0 if out["ok"] else 1

    if args.cmd == "tag":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        if args.drop:
            print(json.dumps(table.drop_tag(args.name)))
        else:
            print(json.dumps(table.tag(args.name, args.version)))
        return 0

    if args.cmd == "rebucket":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        print(json.dumps(table.rebucket(args.n_buckets)))
        return 0

    if args.cmd == "branch":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        if args.list or args.name is None:
            print(json.dumps(table.branches()))
        elif args.drop:
            print(json.dumps(table.drop_branch(args.name)))
        else:
            print(json.dumps(
                table.create_branch(args.name, at_version=args.at_version)
            ))
        return 0

    if args.cmd == "fast-forward":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        print(json.dumps(table.fast_forward(args.name)))
        return 0

    if args.cmd == "compact":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(
            spark, args.table, target_file_bytes=args.target_file_bytes
        )
        if args.hot and args.buckets is not None:
            ap.error("--hot and --buckets are mutually exclusive")
        if args.hot:
            out = table.compact_hot(
                ratio=args.ratio, max_buckets=args.max_buckets,
                tombstone_retention_ts=args.tombstone_retention_ts,
            ) or {"compaction": False, "noop": True}
        else:
            buckets = (
                None if args.buckets is None
                else [int(b) for b in args.buckets.split(",") if b.strip()]
            )
            out = table.compact(
                args.tombstone_retention_ts, buckets=buckets
            )
        print(json.dumps(out))
        return 0

    if args.cmd == "catalog":
        from .streaming.catalog import LakeCatalog

        cat = LakeCatalog(spark, args.path)
        if args.create_table:
            cat.create_table(args.create_table, n_buckets=args.buckets)
        out: dict = {}
        if args.recover:
            out["recovered"] = cat.recover(abort=args.abort)
        if args.expire is not None:
            out["expired"] = cat.expire(keep_last=args.expire)
        head = cat.head()
        out["catalog_version"] = head["version"]
        out["tables"] = {
            n: int(e["version"]) for n, e in head["tables"].items()
        }
        out["pending_txns"] = [t["txn"] for t in cat.pending_transactions()]
        print(json.dumps(out))
        return 0

    if args.cmd == "import":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(
            spark, args.table, n_buckets=args.n_buckets,
            target_file_bytes=args.target_file_bytes,
        )
        out = table.bulk_import(
            args.source, args.epoch, extract=not args.no_extract
        )
        print(json.dumps(out))
        return 0

    if args.cmd == "properties":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        if args.set:
            kv = {}
            for s in args.set:
                k, _, v = s.partition("=")
                try:
                    parsed = json.loads(v)
                except json.JSONDecodeError:
                    parsed = v
                kv[k] = tuple(parsed) if isinstance(parsed, list) else parsed
            table.set_properties(**kv)
        props = {
            k: (list(v) if isinstance(v, tuple) else v)
            for k, v in table.properties().items()
        }
        print(json.dumps(props))
        return 0

    if args.cmd == "requeue":
        from .streaming.lake import ParquetLakeTable
        from .streaming.replay import requeue_quarantined

        table = ParquetLakeTable(spark, args.table)
        out = requeue_quarantined(
            table, args.epoch,
            epochs=(
                [int(e) for e in args.from_epochs.split(",") if e.strip()]
                if args.from_epochs else None
            ),
            rules=(
                json.loads(args.quarantine_rules)
                if args.quarantine_rules else None
            ),
        )
        print(json.dumps(out))
        return 0

    if args.cmd == "snapshot-apply":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table, n_buckets=args.n_buckets)
        out = table.apply_snapshot(
            spark.read.parquet(args.source),
            args.epoch,
            compare=tuple(c.strip() for c in args.compare.split(",") if c.strip()),
            missing_as_delete=not args.no_delete_missing,
            delete_ts=args.delete_ts,
            extract=not args.no_extract,
            assume_unique=args.assume_unique,
        )
        print(json.dumps(out))
        return 0

    if args.cmd == "clone":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        out = table.clone_to(args.dest, version=args.version)
        print(json.dumps(out))
        return 0

    if args.cmd == "cleanup":
        from .streaming.lake import ParquetLakeTable

        table = ParquetLakeTable(spark, args.table)
        out = table.expire_snapshots(keep_last=args.keep_snapshots)
        out.update(table.cleanup_orphans(grace_seconds=args.grace_seconds))
        print(json.dumps(out))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
