"""Change-stream replay: the binlog tail → MERGE loop.

Two surfaces over the same commit protocol:

- ``replay_batches``: deterministic epoch-by-epoch batch replay of a
  change-event DataFrame. One epoch = one Embulk transaction
  (reference exec/BulkLoader.java:512-582); already-committed epochs are
  skipped, which IS resume (exec/BulkLoader.java:584-690: "re-runs only
  tasks without committed reports") — killing the driver after epoch k and
  calling replay again continues from k+1 with no state beyond the table.
- ``stream_events``: Structured Streaming (``readStream`` over a parquet
  event log → ``foreachBatch``) applying the identical merge; Spark's
  checkpoint tracks source offsets while the table's committed-epoch set
  makes the sink idempotent — together: exactly-once.

Schema-change events (op='S', payload JSON
``{"action": "add|rename|widen", ...}``) are applied as table DDL before
the epoch's data events are merged — Embulk's re-guess → ConfigDiff →
next-run-config loop (exec/GuessExecutor.java:142-195,
EmbulkRunner.java:252-258) compressed into the stream itself.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import ParquetLakeTable


def apply_schema_change(table: ParquetLakeTable, payload: str) -> None:
    change = json.loads(payload)
    action = change["action"]
    if action == "add":
        table.add_column(change["column"], change.get("type", "string"))
    elif action == "rename":
        table.rename_column(change["from"], change["to"])
    elif action == "widen":
        table.widen_column(change["column"], change["to"])
    elif action == "drop":
        table.drop_column(change["column"])
    else:
        raise ValueError(f"unknown schema_change action: {action}")


def _check_quarantine_rules(rules: list[dict]) -> None:
    if any(r["check"] == "unique" for r in rules):
        raise ValueError("'unique' is not a per-event rule; use it on "
                         "table state, not the change stream")


def quarantine_epoch(
    table: ParquetLakeTable,
    data: DataFrame,
    epoch_id: int,
    rules: list[dict],
) -> tuple[DataFrame, int]:
    """Dead-letter the epoch's invalid events instead of failing the
    transaction or silently merging garbage — Embulk's per-record
    invalid-row policy (``stop_on_invalid_record`` false ⇒ skip + log,
    reference embulk-util-csv semantics via sources/files.py PERMISSIVE
    mode) made CDC-native: offenders land in
    ``<table>/quarantine/e<epoch>`` with a ``_violations`` array naming
    every failed rule, BEFORE the epoch commits, so the quarantine is
    covered by the same idempotence story (a re-delivered epoch skips
    both; a crash between quarantine write and commit just overwrites
    the identical deterministic content on rerun).

    Rules are operators/validate.py row-level rules (``unique`` is
    rejected — a change stream carries duplicates by design). Returns
    (valid_rows, n_quarantined); opt-in cost: ONE extra O(Δ) job (the
    offender write) per epoch."""
    import os as _os

    from pyspark.sql import Observation

    from ..operators.validate import rule_predicate

    _check_quarantine_rules(rules)
    from ..operators.validate import _rule_name

    pred = F.lit(True)
    tags = []
    for r in rules:
        p = rule_predicate(r)
        pred = pred & p
        tags.append(F.when(~p, F.lit(_rule_name(r))))
    bad = data.filter(~pred).withColumn(
        "_violations", F.array_compact(F.array(*tags))
    ).withColumn("_epoch", F.lit(epoch_id))
    obs = Observation(f"quarantine_{epoch_id}")
    bad = bad.observe(obs, F.count(F.lit(1)).alias("n"))
    if hasattr(table, "path"):
        out_dir = _os.path.join(table.path, "quarantine", f"e{epoch_id:08d}")
        bad.write.mode("overwrite").parquet(out_dir)
        n_bad = int(obs.get["n"])
        if n_bad == 0:
            # keep the quarantine dir sparse: no offenders, no directory
            import shutil as _shutil

            _shutil.rmtree(out_dir, ignore_errors=True)
    else:
        # Iceberg backend: same idempotence via dynamic partition
        # overwrite of exactly this epoch's partition
        qident = f"{table.ident}_quarantine"
        bad.createOrReplaceTempView(f"_q_{epoch_id}")
        try:
            table.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {qident} "
                f"USING iceberg PARTITIONED BY (_epoch) "
                f"AS SELECT * FROM _q_{epoch_id} WHERE 1=0"
            )
            # delete-then-append = per-epoch idempotence (an INSERT
            # OVERWRITE would be static mode by default and truncate
            # the other epochs' partitions)
            table.spark.sql(
                f"DELETE FROM {qident} WHERE _epoch = {epoch_id}"
            )
            table.spark.sql(
                f"INSERT INTO {qident} SELECT * FROM _q_{epoch_id}"
            )
        finally:
            table.spark.catalog.dropTempView(f"_q_{epoch_id}")
        n_bad = int(obs.get["n"])
    return data.filter(pred), n_bad


def quarantine_df(table) -> DataFrame | None:
    """All quarantined events across epochs (None when empty)."""
    import os as _os

    if not hasattr(table, "path"):  # Iceberg backend
        qident = f"{table.ident}_quarantine"
        if not table.spark.catalog.tableExists(qident):
            return None
        return table.spark.table(qident)
    qdir = _os.path.join(table.path, "quarantine")
    if not _os.path.isdir(qdir) or not _os.listdir(qdir):
        return None
    return table.spark.read.parquet(_os.path.join(qdir, "e*"))


def requeue_quarantined(
    table: ParquetLakeTable,
    new_epoch_id: int,
    *,
    epochs: list[int] | None = None,
    fix=None,
    rules: list[dict] | None = None,
) -> dict:
    """Dead-letter REDRIVE (the Kafka-DLQ reprocess loop, CDC-native):
    after the producer bug is fixed — or a ``fix`` transform repairs the
    rows — re-apply quarantined events as one new idempotent epoch.

    Ordering safety is free: quarantined rows kept their original
    (warc_ts, seq), so a repaired OLD event re-entering after newer
    changes already applied simply loses the merge — redrive can never
    clobber fresher state. ``rules`` re-validates (still-invalid rows
    re-quarantine under ``new_epoch_id``, the rest merge); ``epochs``
    restricts the redrive to specific source epochs. Source quarantine
    dirs are removed only AFTER the new epoch commits; a crash in
    between re-runs as a duplicate-epoch skip plus the cleanup —
    rows are never double-applied and never lost."""
    import os as _os
    import shutil as _shutil

    q = quarantine_df(table)
    out: dict = {"requeued_from_epochs": [], "epoch_id": new_epoch_id}
    if q is None:
        return out
    if epochs is not None:
        q = q.filter(F.col("_epoch").isin([int(e) for e in epochs]))
    src_epochs = sorted(
        int(r["_epoch"]) for r in q.select("_epoch").distinct().collect()
        if int(r["_epoch"]) != int(new_epoch_id)
    )
    if not src_epochs:
        return out
    ev = q.filter(F.col("_epoch").isin(src_epochs)).drop(
        "_violations", "_epoch"
    )
    if fix is not None:
        ev = fix(ev)
    if "schema_change" not in ev.columns:
        ev = ev.withColumn("schema_change", F.lit(None).cast("string"))
    out = apply_epoch(table, ev, new_epoch_id, quarantine_rules=rules)
    if hasattr(table, "path"):
        for e in src_epochs:
            _shutil.rmtree(
                _os.path.join(table.path, "quarantine", f"e{e:08d}"),
                ignore_errors=True,
            )
    else:  # Iceberg backend: the quarantine is a partitioned table
        qident = f"{table.ident}_quarantine"
        if table.spark.catalog.tableExists(qident):
            in_list = ", ".join(str(e) for e in src_epochs)
            table.spark.sql(
                f"DELETE FROM {qident} WHERE _epoch IN ({in_list})"
            )
    out["requeued_from_epochs"] = src_epochs
    return out


def _apply_ddl(table: ParquetLakeTable, epoch_df: DataFrame) -> DataFrame:
    """Apply the epoch's schema-change events as table DDL (driver-side,
    tiny, in seq order) and return its data events."""
    rows = (
        epoch_df.filter(F.col("op") == "S")
        .select("seq", "schema_change")
        .collect()
    )
    _apply_schema_rows(table, rows)
    return epoch_df.filter(F.col("op") != "S")


def _apply_schema_rows(table: ParquetLakeTable, rows) -> None:
    for row in sorted(rows, key=lambda r: r["seq"]):
        if row["schema_change"]:
            apply_schema_change(table, row["schema_change"])


def _commit_epoch(
    table: ParquetLakeTable,
    data: DataFrame,
    epoch_id: int,
    quarantine_rules: list[dict] | None,
    wap_rules: list[dict] | None,
) -> dict:
    """The per-epoch body after DDL, shared by apply_epoch and
    replay_batches: quarantine → WAP-or-merge."""
    n_bad = 0
    if quarantine_rules:
        data, n_bad = quarantine_epoch(table, data, epoch_id, quarantine_rules)
    if wap_rules:
        m = table.merge_epoch(data, epoch_id, stage=True)
        if not m.get("skipped_duplicate_epoch"):
            m = table.publish_staged(epoch_id, audit_rules=wap_rules)
    else:
        m = table.merge_epoch(data, epoch_id)
    if quarantine_rules:
        m["quarantined_rows"] = n_bad
    return m


def sync_followers(table, followers, epoch: int, m: dict) -> None:
    """Bring every follower (an epoch-committed side output: the indexes
    in operators/ built on incremental.py::EpochDeltas, or a
    sinks/corpus.py::CorpusExport) to this committed epoch, given the
    table's commit metrics ``m``: an empty batch commits the follower's
    empty marker; a fresh commit hands over its ``delta_dir`` (O(Δ)
    re-read, no extraction recompute); a table-side duplicate skip falls
    through to the follower's snapshot recovery. Both sides' epoch
    commits are idempotent, so a crash between the table commit and a
    follower's self-heals on the next delivery."""
    for f in followers:
        if m.get("empty_batch"):
            f.commit_empty_epoch(epoch)
        else:
            f.update_from_lake_epoch(table, epoch, delta_dir=m.get("delta_dir"))


def apply_epoch(
    table: ParquetLakeTable,
    epoch_df: DataFrame,
    epoch_id: int,
    *,
    quarantine_rules: list[dict] | None = None,
    wap_rules: list[dict] | None = None,
) -> dict:
    """Apply one epoch: schema changes first (driver-side, tiny), then the
    data events as one idempotent MERGE commit. ``quarantine_rules``
    dead-letters invalid events (see :func:`quarantine_epoch`);
    ``wap_rules`` makes the commit write-audit-publish (all-or-nothing
    epoch gate, see :func:`replay_batches`)."""
    if quarantine_rules:
        _check_quarantine_rules(quarantine_rules)
    if epoch_id in table.committed_epochs():
        return {"epoch_id": epoch_id, "skipped_duplicate_epoch": True,
                "stages": ["RUN_BEGIN", "SKIPPED"]}
    return _commit_epoch(
        table, _apply_ddl(table, epoch_df), epoch_id, quarantine_rules,
        wap_rules,
    )


def route_epoch(
    tables: dict[str, ParquetLakeTable],
    epoch_df: DataFrame,
    epoch_id: int,
    *,
    table_col: str = "table",
    quarantine_rules: list[dict] | None = None,
    strict: bool = False,
) -> dict:
    """Multi-table binlog fan-out: ONE interleaved change stream (a real
    binlog/WAL carries every table's events in commit order, tagged by
    ``table_col`` — the shape parse_debezium/parse_maxwell/parse_canal
    emit) routed to per-destination lake tables in one pass.

    Exactly-once composes PER (table, epoch): each destination keeps its
    own committed-epoch set, so a crash between table A's commit and
    table B's resumes by re-routing the same epoch — A skips as a
    duplicate, B applies. No cross-table transaction is needed because
    epochs are idempotent units (same contract Kafka Connect sinks get
    from per-topic offsets).

    The epoch frame is persisted once and each destination filters its
    slice from memory — k tables cost k in-memory scans of O(batch),
    never k reads of the source. Events naming an unregistered table are
    COUNTED (``unrouted_rows``) and dropped unless ``strict`` raises —
    the reference's stop-on-invalid-record policy applied at table
    granularity."""
    epoch_df = epoch_df.persist()
    try:
        report: dict = {"epoch_id": epoch_id, "tables": {}}
        known = list(tables)
        # NULL tags are unrouted too (isin is NULL for NULL input —
        # a bare ~isin filter would silently drop them uncounted)
        unrouted = epoch_df.filter(
            F.col(table_col).isNull() | ~F.col(table_col).isin(known)
        ).count()
        if unrouted and strict:
            raise ValueError(
                f"epoch {epoch_id}: {unrouted} events name tables outside "
                f"the routing map {sorted(known)}"
            )
        report["unrouted_rows"] = unrouted
        for name, table in tables.items():
            slice_df = epoch_df.filter(F.col(table_col) == name).drop(table_col)
            report["tables"][name] = apply_epoch(
                table, slice_df, epoch_id, quarantine_rules=quarantine_rules
            )
        return report
    finally:
        epoch_df.unpersist()


def route_epoch_atomic(
    catalog,
    epoch_df: DataFrame,
    epoch_id: int,
    *,
    table_col: str = "table",
    quarantine_rules: list[dict] | None = None,
    strict: bool = False,
    audit_rules: dict[str, list[dict]] | None = None,
) -> dict:
    """:func:`route_epoch` with CROSS-TABLE atomic visibility: the same
    one-pass fan-out, but each destination's slice stages through a
    ``LakeCatalog`` transaction (streaming/catalog.py) and the epoch
    becomes visible to catalog readers in ONE pointer flip.

    Plain ``route_epoch`` is exactly-once per (table, epoch) but a crash
    between two tables' commits leaves a window where per-table readers
    disagree about the epoch boundary. Here the heavy jobs still run
    per-table (staged, invisible), and only the catalog flip publishes —
    a crashed run leaves either nothing visible or a recoverable intent
    (``catalog.recover()`` rolls forward; per-epoch idempotence makes
    the replay of the same batch a no-op). Empty slices stage an empty
    epoch so EVERY routed table records the epoch — re-delivery skips
    uniformly. Cost over route_epoch: only the deferred snapshot
    publishes + one catalog version file — the data jobs are identical,
    so the 100 TB shape is unchanged.

    ``audit_rules`` (table → WAP rules) gate the whole transaction:
    one failing table blocks every destination with all stages intact."""
    known = sorted(catalog.head()["tables"])  # head always exists (v0 boot)
    epoch_df = epoch_df.persist()
    try:
        report: dict = {"epoch_id": epoch_id, "tables": {}}
        unrouted = epoch_df.filter(
            F.col(table_col).isNull() | ~F.col(table_col).isin(known)
        ).count()
        if unrouted and strict:
            raise ValueError(
                f"epoch {epoch_id}: {unrouted} events name tables outside "
                f"the catalog {known}"
            )
        report["unrouted_rows"] = unrouted
        txn = catalog.transaction()
        for name in known:
            slice_df = epoch_df.filter(F.col(table_col) == name).drop(table_col)
            # the transaction's cached handle: one head read per table
            # per txn (merge_epoch below reuses it), not one per call
            tbl = txn._table(name)
            # same DDL + quarantine preamble as apply_epoch — quarantine
            # rows land outside the transaction by design (the
            # dead-letter table is operational telemetry, not part of
            # the atomic cross-table view)
            data, n_bad = _apply_ddl(tbl, slice_df), 0
            if quarantine_rules:
                data, n_bad = quarantine_epoch(
                    tbl, data, epoch_id, quarantine_rules
                )
            m = txn.merge_epoch(name, data, epoch_id)
            if quarantine_rules:
                m["quarantined_rows"] = n_bad
            report["tables"][name] = m
        report["commit"] = txn.commit(audit_rules=audit_rules)
        return report
    finally:
        epoch_df.unpersist()


def list_epoch_partitions(path: str) -> list[int] | None:
    """Epoch ids of an ``epoch=N``-partitioned event log from ONE
    filesystem listing — no Spark job. Returns None when the path is not
    laid out that way (caller falls back to a distinct scan). At 10^10
    events the alternative — ``select epoch .distinct()`` — is a full
    file-listing + scan job before any epoch's real work starts; the
    partition layout already IS the epoch list."""
    try:
        names = os.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return None
    eps = []
    for n in names:
        if n.startswith("epoch="):
            try:
                eps.append(int(n.split("=", 1)[1]))
            except ValueError:
                return None
    return sorted(eps) if eps else None


def _auto_pipeline_depth(spark: SparkSession) -> int:
    """Overlap epochs only when the host has CPU headroom for it.

    Each epoch's heavy job has a JVM-bound phase (scan + partial max_by
    sort + shuffle write) and a Python-bound phase (Arrow extraction
    workers). With depth 2 those phases of CONSECUTIVE epochs overlap, so
    the busy-process count is task-slots (JVM) + task-slots (python
    workers). When the task-slot count already matches the machine's
    cores, that's 2× CPU oversubscription — measured on the skew_hot50
    leg at local[32]: 198k ev/s pipelined vs 695k serialized (the
    round-1 '32-core collapse'; at local[8] the box's 24 idle vCPUs
    absorb the python workers and overlap wins). Same sizing rule as a
    real executor host: leave cores for the python workers."""
    import os

    master = spark.sparkContext.master
    m = re.match(r"local\[(\d+|\*)(?:,\d+)?\]", master)
    if not m:
        # cluster master (spark://, yarn, k8s): the driver's CPU count says
        # nothing about executor slots, and executor hosts are sized with
        # python-worker headroom — overlap is the win case there
        return 2
    ncpu = os.cpu_count() or 8
    slots = ncpu if m.group(1) == "*" else int(m.group(1))
    return 1 if 2 * slots > ncpu else 2


def replay_batches(
    table: ParquetLakeTable,
    events: DataFrame,
    *,
    max_epochs: int | None = None,
    pipeline_depth: int | None = None,
    followers=(),
    quarantine_rules: list[dict] | None = None,
    wap_rules: list[dict] | None = None,
) -> list[dict]:
    """Replay all (remaining) epochs of ``events`` in epoch order.

    ``quarantine_rules`` (operators/validate.py row-level rules)
    dead-letter invalid events per epoch before the commit — see
    :func:`quarantine_epoch`; per-epoch offender counts land in the
    returned metrics as ``quarantined_rows``.

    ``wap_rules`` turns every epoch into a write-audit-publish commit
    (ParquetLakeTable.merge_epoch(stage=True) → audit → publish): the
    epoch's change-set is INVISIBLE until the audit passes, and a
    violation raises with the stage left intact for inspection —
    all-or-nothing epoch gating, vs quarantine's row-level diversion
    (the two compose: quarantine first, then the epoch-level gate).
    Crash-shaped retries self-heal — a stage without a publish is
    re-published on the next replay, a publish without manifest removal
    skips idempotently.

    Schema-change events (rare by construction) are collected in ONE
    upfront scan instead of a per-epoch filter job; each epoch then costs
    exactly ONE heavy Spark job (dedup+extract+write with piggybacked
    observe metrics).

    ``followers`` are side outputs kept in epoch lockstep with the
    table: the operators.incremental.SignatureIndex (near-dups),
    operators.bloom.BloomIndex (membership), operators.termindex.TermIndex
    (BM25 statistics), operators.aggview.AggView (grouped aggregates
    with retractions), operators.chunkstore.ChunkStore (content-addressed
    chunks) and sinks.corpus.CorpusExport (training-corpus shards). After
    each epoch commit every follower folds the epoch's change-set at
    O(Δ) (see :func:`sync_followers`). Resume visits every epoch some
    follower lacks — a follower behind the table after a crash between
    the two commits self-heals from the snapshot.

    ``pipeline_depth`` > 1 overlaps consecutive epochs' Spark jobs on
    driver threads (default: adaptive, see :func:`_auto_pipeline_depth`).
    This is sound because the MOR table resolves the winner per url by
    (warc_ts, seq) — final state is independent of commit interleaving —
    and snapshot commits rebase under the commit lock (see
    ParquetLakeTable._commit). Epochs carrying schema-change events act
    as barriers: the pipeline drains, DDL applies, then overlap resumes
    (Embulk analogue: config diff applies between runs,
    exec/GuessExecutor.java:142-195)."""
    if quarantine_rules:
        _check_quarantine_rules(quarantine_rules)
    if pipeline_depth is None:
        pipeline_depth = _auto_pipeline_depth(table.spark)
    has_schema_col = "schema_change" in events.columns
    # ONE narrow scan yields both the epoch list and the (rare) schema
    # events: collect_list drops the nulls the when() leaves for data rows
    aggs = [F.count(F.lit(1)).alias("_n")]
    if has_schema_col:
        aggs.append(
            F.collect_list(
                F.when(F.col("op") == "S", F.struct("seq", "schema_change"))
            ).alias("_sc")
        )
    epoch_rows = events.groupBy("epoch").agg(*aggs).collect()
    epochs = sorted(r["epoch"] for r in epoch_rows)
    schema_by_epoch: dict[int, list] = {}
    if has_schema_col:
        for row in epoch_rows:
            if row["_sc"]:
                schema_by_epoch[int(row["epoch"])] = list(row["_sc"])

    done = table.committed_epochs()
    for f in followers:
        # an epoch the table has but a follower lacks (crash between the
        # two commits) must still be visited so the follower can self-heal
        done = done & {int(e) for e in f.committed_epochs()}
    pending: list[int] = []
    n = 0
    for e in epochs:
        if e in done:
            continue
        if max_epochs is not None and n >= max_epochs:
            break
        pending.append(int(e))
        n += 1

    def run_epoch(e: int) -> dict:
        data = events.filter((F.col("epoch") == e) & (F.col("op") != "S"))
        m = _commit_epoch(table, data, e, quarantine_rules, wap_rules)
        sync_followers(table, followers, e, m)
        return m

    out: list[dict] = []
    if pipeline_depth <= 1:
        for e in pending:
            _apply_schema_rows(table, schema_by_epoch.get(e, []))
            out.append(run_epoch(e))
        return out

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=pipeline_depth) as ex:
        futures: list = []

        def drain():
            for f in futures:
                out.append(f.result())
            futures.clear()

        for e in pending:
            if schema_by_epoch.get(e):
                drain()  # barrier: DDL applies to a quiesced table
                _apply_schema_rows(table, schema_by_epoch[e])
            futures.append(ex.submit(run_epoch, e))
            while len(futures) >= pipeline_depth:
                out.append(futures.pop(0).result())
        drain()
    return out


def stream_window_metrics(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    out_path: str,
    *,
    window: str = "10 minutes",
    watermark: str = "1 minute",
    schema_ddl: str | None = None,
) -> None:
    """Watermarked, windowed ingest metrics over the change stream —
    the monitoring companion to the MERGE sink.

    ``withWatermark(warc_ts)`` + tumbling-window aggregation in APPEND
    mode: a window's row is emitted exactly once, when the watermark
    passes its end, so late events inside the allowed lateness are
    still counted and anything later is dropped from *metrics* (the
    MERGE path itself remains order-correct for arbitrarily late data
    via (warc_ts, seq) resolution — metrics tolerate a bounded horizon,
    state does not). State store size is bounded by windows-in-flight,
    not by stream length — the property that keeps this runnable against
    a 10^10-event tail."""
    from ..sources.events import EVENT_SCHEMA

    reader = (
        spark.readStream.schema(schema_ddl or EVENT_SCHEMA)
        .parquet(events_path)
    )
    agg = (
        reader.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "op")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("url").alias("n_urls_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "op", "n_events", "n_urls_approx",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_events(
    spark: SparkSession,
    table: ParquetLakeTable,
    events_path: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 1,
    schema_ddl: str | None = None,
    followers=(),
    quarantine_rules: list[dict] | None = None,
    wap_rules: list[dict] | None = None,
) -> None:
    """Structured-Streaming surface: tail a parquet event-log directory and
    apply each micro-batch through the same idempotent merge.

    The sink key is Spark's ``batch_id`` (monotonic per checkpoint); on
    restart, a re-delivered batch hits the committed-epoch set and no-ops —
    the foreachBatch exactly-once pattern. ``followers`` are kept in
    lockstep exactly as in :func:`replay_batches` (same idempotent epoch
    commits keyed by batch_id, same crash-window self-heal)."""
    from ..sources.events import EVENT_SCHEMA

    reader = (
        spark.readStream.schema(schema_ddl or EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_path)
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        e = int(batch_id)
        m = apply_epoch(
            table, batch_df, e,
            quarantine_rules=quarantine_rules, wap_rules=wap_rules,
        )
        sync_followers(table, followers, e, m)

    q = (
        reader.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


#: binlog wire-format name → change-event adapter (sources/debezium.py)
_WIRE_ADAPTERS = {
    "debezium": "debezium_change_events",
    "maxwell": "maxwell_change_events",
    "canal": "canal_change_events",
    "wal2json": "wal2json_change_events",
}


def stream_binlog(
    spark: SparkSession,
    table: ParquetLakeTable | None,
    binlog_dir: str,
    checkpoint_dir: str,
    *,
    wire_format: str = "debezium",
    path_glob: str = "*.jsonl*",
    max_files_per_trigger: int | None = None,
    quarantine_rules: list[dict] | None = None,
    route: dict[str, ParquetLakeTable] | None = None,
    txn_align: bool = False,
) -> None:
    """Tail a DIRECTORY OF BINLOG DUMP FILES into the lake: the no-Kafka
    deployment shape — Debezium server / Maxwell / Canal writing envelope
    jsonl files to a prefix (file sink, `kafka-console-consumer > f`),
    new files picked up by Structured Streaming's file source, parsed by
    the matching wire adapter (sources/debezium.py), applied through the
    same idempotent ``apply_epoch`` keyed by ``batch_id``. Checkpoint +
    the committed-epoch set give exactly-once across restarts, identical
    to :func:`stream_events`/:func:`stream_warc`. Line parsing is the
    codegen'd from_json chain — no Python between file bytes and MERGE.

    ``route`` (wire-tag → lake table) switches to multi-table fan-out:
    the envelope's own table tag (Debezium ``source.table``, Maxwell /
    Canal ``table``) routes each slice through :func:`route_epoch` with
    per-(table, batch) exactly-once — ONE stream, many destinations,
    the real one-binlog-many-tables deployment. ``table`` is ignored
    when routing.

    ``txn_align`` (wal2json / maxwell): never apply a partial SOURCE
    transaction — rows whose commit marker (wal2json ``C`` action,
    Maxwell ``commit: true`` flag row) hasn't arrived yet
    (the file tail cut mid-transaction) defer to a later batch via
    :class:`~embulk_spark.streaming.txn_align.TxnAligner`, so every
    epoch commit is a prefix of committed source transactions."""
    from ..sources import debezium as wire

    if wire_format not in _WIRE_ADAPTERS:
        raise ValueError(
            f"wire_format {wire_format!r} not in {sorted(_WIRE_ADAPTERS)}"
        )
    if txn_align and wire_format not in ("wal2json", "maxwell"):
        raise ValueError(
            "txn_align needs commit markers in the wire format "
            "(wal2json v2 include-transaction, or Maxwell's commit flag)"
        )
    aligner = None
    if txn_align:
        from .txn_align import TxnAligner

        aligner = TxnAligner(
            spark, os.path.join(checkpoint_dir, "txn_align")
        )
    adapter = getattr(wire, _WIRE_ADAPTERS[wire_format])
    reader = spark.readStream.format("text").option("pathGlobFilter", path_glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.load(binlog_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if aligner is not None:
            raw = adapter(batch_df, with_table=bool(route), with_txn=True)
            markers = (
                wire.maxwell_txn_markers(batch_df)
                if wire_format == "maxwell"
                else wire.wal2json_txn_markers(batch_df)
            )
            events = aligner.align(raw, markers, int(batch_id)).drop("txn_xid")
        else:
            events = adapter(batch_df, with_table=bool(route))
        events = events.withColumn(
            "schema_change", F.lit(None).cast("string")
        )
        if wire_format == "canal":
            # canal carries DDL in-band (isDdl flatMessages) — fold the
            # derived op='S' events in so schema evolution rides the
            # tail; in route mode each DDL keeps its envelope's table
            # tag and evolves only its own destination
            events = events.unionByName(
                wire.canal_schema_change_events(
                    batch_df, with_table=bool(route)
                )
            )
        if route:
            route_epoch(
                route, events, int(batch_id),
                quarantine_rules=quarantine_rules,
            )
        else:
            apply_epoch(
                table, events, int(batch_id),
                quarantine_rules=quarantine_rules,
            )
        if aligner is not None:
            # drop superseded pending generations (one spare covers an
            # in-flight retry) — a long tail must not accumulate one
            # pending dir per micro-batch forever
            aligner.cleanup(keep_last=2)

    q = (
        lines.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_warc(
    spark: SparkSession,
    table: ParquetLakeTable,
    warc_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 1,
    path_glob: str = "*.warc*",
    quarantine_rules: list[dict] | None = None,
) -> None:
    """Tail a DIRECTORY OF CRAWL ARCHIVES into the lake: Structured
    Streaming over ``binaryFile`` (each newly-arrived .warc/.warc.gz is
    one source row → one task, Embulk's FileInputPlugin unit), per
    micro-batch parse → change events → the same idempotent
    ``apply_epoch`` keyed by ``batch_id``.

    This closes the crawl loop end-to-end: the Common-Crawl delivery
    model IS "new archive files appear in a prefix" — no binlog exists,
    so the file-arrival log is the change log. Checkpoint + the
    committed-epoch set give exactly-once across restarts (a re-delivered
    batch no-ops), identical to :func:`stream_events`; revisit records
    drop per ISO 28500 so re-crawled-but-unchanged pages cost nothing
    (sources/warc.py::warc_change_events)."""
    from ..sources.warc import parse_warc_blobs, warc_change_events

    reader = (
        spark.readStream.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(warc_dir)
        .select("content")
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        events = warc_change_events(parse_warc_blobs(batch_df))
        apply_epoch(
            table, events, int(batch_id), quarantine_rules=quarantine_rules
        )

    q = (
        reader.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
