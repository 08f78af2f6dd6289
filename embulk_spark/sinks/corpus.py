"""Sharded training-corpus export with an audit manifest.

The last artifact of a curation pipeline: the corpus written as N
deterministic shards plus a ``manifest.json`` recording, per shard, the
row count, token count, and an order-independent content fingerprint —
so a consumer (or a resumed export) can verify every shard without
re-reading the corpus, and two exports of the same corpus are
byte-comparable by manifest alone.

Shard assignment is ``md5(salt:id) % n_shards`` — a pure function of
(salt, id), like every partitioning decision in this engine
(operators/sample.py discipline): reruns, repartitions, and task
retries land each row in the same shard. Rows arrive at the writer
pre-clustered by ``repartition(n_shards, shard)`` so each shard is one
output task writing one file set (the FileOutputPlugin one-task-per-file
model, reference spi/FileOutputRunner.java:110-134, scaled out).

Commit protocol matches the lake's: data first, then the manifest via
create-exclusive — a manifest's existence marks a complete export, a
crashed export leaves no manifest and is re-run (exactly-once by
re-execution, the reference's BulkLoader commit-gate shape,
exec/BulkLoader.java:541-548).

Scale shape: one repartition shuffle on the uniform shard key, one
pass; the manifest aggregation piggybacks a groupBy(shard) over the
same columns (n_shards rows — constant, driver-safe). The content
fingerprint is ``xor``-free long addition of per-row md5 prefixes:
order-independent, mergeable, and SQL-replayable.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: underscore prefix => invisible to Spark's file listing, so the
#: manifest can live inside the export directory it describes
MANIFEST = "_manifest.json"


def shard_of(id_col: Column, n_shards: int, salt: str = "shard1") -> Column:
    """Deterministic shard id: first 8 md5 hex chars of ``salt:id``
    mod ``n_shards``."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    ).cast("int")


def row_fingerprint(id_col: Column, text_col: Column) -> Column:
    """Per-row fingerprint: first 15 md5 hex chars (60 bits) of
    ``id<US>text`` (0x1f unit separator — NUL is not a legal DuckDB
    string, and the oracle replays this hash), summed as decimal(38,0) —
    10^10 rows × 2^60 ≈ 10^28 stays far inside decimal range, where a
    long sum would overflow."""
    payload = F.concat_ws("\x1f", id_col.cast("string"), text_col)
    return (
        F.conv(F.substring(F.md5(payload), 1, 15), 16, 10)
        .cast("long")
        .cast("decimal(38,0)")
    )


def write_corpus_shards(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
    salt: str = "shard1",
    fmt: str = "parquet",
) -> dict:
    """Export ``df`` as ``n_shards`` deterministic shards under
    ``path/shard=NN/`` plus ``path/manifest.json``; returns the manifest.

    ``fmt``: ``parquet`` or ``json`` (jsonl). Raises FileExistsError if
    a manifest already exists at ``path`` (a completed export is never
    silently overwritten)."""
    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be parquet or json; got {fmt}")
    mpath = os.path.join(path, MANIFEST)
    if os.path.exists(mpath):
        raise FileExistsError(f"completed export already at {path}")
    sharded = df.withColumn(
        "shard", shard_of(F.col(id_col), n_shards, salt)
    ).repartition(n_shards, "shard")
    (
        sharded.write.partitionBy("shard")
        .format(fmt)
        .mode("overwrite")
        .save(path)
    )
    stats = (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.size(
                    F.filter(
                        F.split(F.col(text_col), r"\s+"),
                        lambda w: w != F.lit(""),
                    )
                )
            ).alias("n_tokens"),
            F.sum(
                row_fingerprint(F.col(id_col), F.col(text_col))
            ).alias("content_sum"),
        )
        .orderBy("shard")
        .collect()
    )
    manifest = {
        "format": fmt,
        "n_shards": n_shards,
        "salt": salt,
        "id_col": id_col,
        "text_col": text_col,
        # full schema (incl. shard) so an EMPTY export — e.g. seeded from
        # a fresh table before its first replay epoch — stays readable
        "schema": sharded.schema.jsonValue(),
        "total_rows": int(sum(r["rows"] for r in stats)),
        "total_tokens": int(sum(r["n_tokens"] or 0 for r in stats)),
        "shards": [
            {
                "shard": int(r["shard"]),
                "rows": int(r["rows"]),
                "n_tokens": int(r["n_tokens"] or 0),
                "content_sum": int(r["content_sum"]),
            }
            for r in stats
        ],
    }
    # create-exclusive commit mark: crashed exports leave no manifest
    fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _load_export(spark, path: str, manifest: dict):
    """Read an export; the manifest-recorded schema makes EMPTY exports
    (no shard dirs yet) readable where inference would fail."""
    reader = spark.read.format(manifest["format"])
    if "schema" in manifest:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    return reader.load(path)


def verify_corpus_shards(spark, path: str) -> dict:
    """Re-read an export and check every shard against its manifest
    entry (rows + content_sum). Returns {"ok": bool, "mismatches": [...]}
    — the consumer-side audit that needs no access to the source."""
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    df = spark.read.format(manifest["format"]).load(path)
    got = {
        int(r["shard"]): (int(r["rows"]), int(r["content_sum"]))
        for r in df.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                row_fingerprint(
                    F.col(manifest["id_col"]), F.col(manifest["text_col"])
                )
            ).alias("content_sum"),
        )
        .collect()
    }
    mismatches = []
    for s in manifest["shards"]:
        if got.get(s["shard"]) != (s["rows"], s["content_sum"]):
            mismatches.append(s["shard"])
    extra = set(got) - {s["shard"] for s in manifest["shards"]}
    mismatches.extend(sorted(extra))
    return {"ok": not mismatches, "mismatches": mismatches}


def refresh_corpus_shards(
    spark,
    path: str,
    upserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
) -> dict:
    """CDC-native export maintenance: fold a change-set into an existing
    export, rewriting ONLY the shards the change-set touches.

    ``upserts``: current rows (id_col + text_col [+ extra columns]) for
    added/updated documents; ``deletes``: id_col of removed documents.
    Cost is O(affected shard bytes + |change-set|), never O(corpus):
    the deterministic shard function maps changed ids to ≤ n_shards
    affected partitions, the old export is read with partition pruning
    on exactly those, survivors are kept via one anti-join on the id,
    and Spark's dynamic partition overwrite replaces only the rewritten
    partitions. Shards emptied by deletes are removed explicitly
    (dynamic overwrite leaves untouched partitions alone — including
    ones that should vanish).

    The manifest is updated atomically (tmp + rename) with recomputed
    entries for the affected shards and a bumped ``version``; unaffected
    entries are byte-identical. Single-writer protocol (the lake's
    replay loop); refreshing equals a from-scratch export of the final
    corpus, pinned by tests/test_corpus_export.py.
    """
    import shutil as _shutil

    mpath = os.path.join(path, MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    id_col, text_col = manifest["id_col"], manifest["text_col"]
    n_shards, salt, fmt = manifest["n_shards"], manifest["salt"], manifest["format"]

    changed = None
    if upserts is not None:
        changed = upserts.select(F.col(id_col))
    if deletes is not None:
        d = deletes.select(F.col(id_col))
        changed = d if changed is None else changed.unionByName(d)
    if changed is None:
        return manifest
    affected = sorted(
        r["shard"]
        for r in changed.select(
            shard_of(F.col(id_col), n_shards, salt).alias("shard")
        )
        .distinct()
        .collect()
    )
    if not affected:
        return manifest

    old = _load_export(spark, path, manifest).filter(
        F.col("shard").isin(affected)
    )
    survivors = old.join(changed, id_col, "left_anti")
    out = survivors
    if upserts is not None:
        ups = upserts.withColumn(
            "shard", shard_of(F.col(id_col), n_shards, salt)
        )
        for c in survivors.columns:
            if c not in ups.columns:
                ups = ups.withColumn(c, F.lit(None))
        out = survivors.unionByName(ups.select(*survivors.columns))
    out = out.repartition(len(affected), "shard").localCheckpoint()

    stats = {
        int(r["shard"]): r
        for r in out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.size(
                    F.filter(
                        F.split(F.col(text_col), r"\s+"),
                        lambda w: w != F.lit(""),
                    )
                )
            ).alias("n_tokens"),
            F.sum(row_fingerprint(F.col(id_col), F.col(text_col))).alias(
                "content_sum"
            ),
        )
        .collect()
    }
    # dynamic partition overwrite: only partitions present in `out` are
    # replaced; emptied shards must be deleted by hand below
    out.write.partitionBy("shard").format(fmt).mode("overwrite").save(path)
    emptied = [s for s in affected if s not in stats]
    for s in emptied:
        _shutil.rmtree(os.path.join(path, f"shard={s}"), ignore_errors=True)

    by_shard = {s["shard"]: s for s in manifest["shards"]}
    for s in affected:
        if s in stats:
            r = stats[s]
            by_shard[s] = {
                "shard": s,
                "rows": int(r["rows"]),
                "n_tokens": int(r["n_tokens"] or 0),
                "content_sum": int(r["content_sum"]),
            }
        else:
            by_shard.pop(s, None)
    manifest["shards"] = [by_shard[s] for s in sorted(by_shard)]
    manifest["total_rows"] = sum(s["rows"] for s in manifest["shards"])
    manifest["total_tokens"] = sum(s["n_tokens"] for s in manifest["shards"])
    manifest["version"] = int(manifest.get("version", 0)) + 1
    _write_manifest(path, manifest)
    return manifest


TOMBSTONES = "_tombstones"


def export_from_lake(
    spark,
    table,
    path: str,
    *,
    columns: list | None = None,
    id_col: str = "url",
    version_cols: tuple = ("warc_ts", "seq"),
    **kwargs,
) -> dict:
    """Export a lake table's published state as corpus shards AND seed
    the tombstone sidecar (deleted keys + their winning versions) that
    :func:`refresh_from_changes` needs to consume the table's MOR change
    feed safely. The sidecar lives at ``path/_tombstones/v{version}/``
    (underscore-prefixed — invisible to the shard reader) and is
    referenced from the manifest."""
    full = table.read()
    cols = columns or [
        c for c in full.columns if c not in ("is_deleted", "bkt")
    ]
    missing = [c for c in (id_col, *version_cols) if c not in cols]
    if missing:
        raise ValueError(f"columns must include {missing}")
    manifest = write_corpus_shards(
        full.filter(~F.col("is_deleted")).select(*cols),
        path,
        id_col=id_col,
        **kwargs,
    )
    # cursor seed: the export reflects everything committed so far
    manifest["synced_epochs"] = sorted(
        int(e) for e in table.committed_epochs()
    )
    tomb = full.filter(F.col("is_deleted")).select(id_col, *version_cols)
    return _commit_tombstones(spark, path, manifest, tomb, list(version_cols))


def _write_manifest(path: str, manifest: dict) -> None:
    """Replace the manifest atomically (write-aside + rename)."""
    fd, tmp = tempfile.mkstemp(dir=path, prefix="._manifest.")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, MANIFEST))


def _mark_synced(manifest: dict, epoch: int) -> None:
    manifest.setdefault("synced_epochs", []).append(int(epoch))
    manifest["synced_epochs"].sort()


def _tombstone_dir(manifest: dict) -> str | None:
    return manifest.get("tombstones")


def _commit_tombstones(spark, path, manifest, tomb, version_cols) -> dict:
    """Write the tombstone set as a fresh versioned dir, point the
    manifest at it atomically, then drop older versions."""
    import shutil as _shutil

    rel = f"{TOMBSTONES}/v{int(manifest.get('version', 0))}"
    tomb.write.mode("overwrite").parquet(os.path.join(path, rel))
    manifest["tombstones"] = rel
    manifest["version_cols"] = version_cols
    _write_manifest(path, manifest)
    troot = os.path.join(path, TOMBSTONES)
    for d in os.listdir(troot):
        if d != os.path.basename(rel):
            _shutil.rmtree(os.path.join(troot, d), ignore_errors=True)
    return manifest


def refresh_from_changes(
    spark,
    path: str,
    changes: DataFrame,
    *,
    mark_epoch: int | None = None,
) -> dict:
    """Consume a CDC change feed (``streaming/lake.py::changes_between``
    shape: one net row per key with an ``is_deleted`` tombstone flag)
    into an export created by :func:`export_from_lake`, at
    O(change-set + affected shards) per refresh — the export-side
    analogue of the incremental near-dup index.

    The feed is merge-on-read: an epoch delta carries that epoch's BATCH
    winners, so a redelivered stale event can resurface as a live feed
    row even though the table's newer version — possibly a delete the
    export no longer stores — still wins. The consumer therefore keeps
    the lake's resolution state: live rows carry their version columns
    in the shards, deleted keys persist in the ``_tombstones`` sidecar,
    and each changed key resolves as ``max_by(row, (*version_cols,
    came_from_feed))`` across exported row, tombstone, and feed row.
    Applying consecutive feed ranges in order therefore reconstructs
    exactly what a from-scratch export of the final table produces
    (pinned by tests/test_corpus_export.py). Raises if the export has no
    tombstone sidecar — plain :func:`write_corpus_shards` exports cannot
    consume a MOR feed.

    ``mark_epoch`` records the feed's epoch in the manifest's
    ``synced_epochs`` cursor (and makes the call idempotent: an
    already-synced epoch is a no-op). Because resolution is a pure max
    over versions, applying ranges out of order (pipelined replay)
    converges to the same state as in-order application."""
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    if mark_epoch is not None and mark_epoch in manifest.get(
        "synced_epochs", []
    ):
        return manifest  # idempotent re-delivery of a synced epoch
    id_col = manifest["id_col"]
    tomb_rel = _tombstone_dir(manifest)
    if tomb_rel is None:
        raise ValueError(
            f"export at {path} has no tombstone sidecar; create it with "
            "export_from_lake to consume a merge-on-read change feed"
        )
    version_cols = manifest["version_cols"]
    old = _load_export(spark, path, manifest).drop("shard")
    tomb = spark.read.parquet(os.path.join(path, tomb_rel))
    changed_ids = changes.select(id_col).distinct().localCheckpoint()
    if not changed_ids.head(1):
        # empty feed range: no shard work, but the cursor still advances
        if mark_epoch is not None:
            _mark_synced(manifest, mark_epoch)
            _write_manifest(path, manifest)
        return manifest
    feed_cols = [c for c in old.columns if c in changes.columns]

    cand = old.join(changed_ids, id_col).select(
        *[F.col(c) for c in old.columns],
        F.lit(False).alias("is_deleted"),
        F.lit(0).alias("_feed"),
    )
    cand_tomb = tomb.join(changed_ids, id_col).select(
        *[
            F.col(c) if c in (id_col, *version_cols)
            else F.lit(None).alias(c)
            for c in old.columns
        ],
        F.lit(True).alias("is_deleted"),
        F.lit(0).alias("_feed"),
    )
    feed = changes.select(
        *[
            F.col(c) if c in feed_cols else F.lit(None).alias(c)
            for c in old.columns
        ],
        F.col("is_deleted"),
        F.lit(1).alias("_feed"),
    )
    ver = F.struct(*[F.col(c) for c in version_cols], F.col("_feed"))
    payload = F.struct(*[F.col(c) for c in old.columns], F.col("is_deleted"))
    winners = (
        cand.unionByName(cand_tomb)
        .unionByName(feed)
        .groupBy(id_col)
        .agg(F.max_by(payload, ver).alias("_w"))
        .select(
            *[F.col(f"_w.{c}").alias(c) for c in old.columns],
            F.col("_w.is_deleted").alias("is_deleted"),
        )
        .localCheckpoint()
    )
    live = winners.filter(~F.col("is_deleted")).drop("is_deleted")
    gone = winners.filter(F.col("is_deleted")).select(id_col, *version_cols)
    manifest = refresh_corpus_shards(
        spark, path, upserts=live, deletes=gone.select(id_col)
    )
    if mark_epoch is not None:
        _mark_synced(manifest, mark_epoch)
    new_tomb = tomb.join(changed_ids, id_col, "left_anti").unionByName(gone)
    return _commit_tombstones(spark, path, manifest, new_tomb, version_cols)


class CorpusExport:
    """An export (created by :func:`export_from_lake`) as a lake follower:
    pass it in ``followers=`` of ``streaming/replay.py::replay_batches`` /
    ``stream_events`` and each committed epoch's change-set folds in
    (O(Δ + affected shards)) — a live training corpus synced to the WAL.

    The manifest's ``synced_epochs`` is the follower's committed-epoch
    set, so a crash between the table commit and the export sync
    self-heals on replay. The lock serializes pipelined epochs onto the
    single-writer manifest (apply order doesn't matter — resolution is a
    pure max over versions — but concurrent manifest writes would)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._lock = threading.Lock()

    def _manifest(self) -> dict:
        with open(os.path.join(self.path, MANIFEST)) as f:
            return json.load(f)

    def committed_epochs(self) -> set[int]:
        if not os.path.exists(os.path.join(self.path, MANIFEST)):
            return set()
        return {int(e) for e in self._manifest().get("synced_epochs", [])}

    def commit_empty_epoch(self, epoch: int) -> dict:
        with self._lock:
            manifest = self._manifest()
            if epoch in manifest.get("synced_epochs", []):
                return {"epoch": epoch, "skipped_duplicate_epoch": True}
            _mark_synced(manifest, epoch)
            _write_manifest(self.path, manifest)
        return {"epoch": epoch, "skipped_duplicate_epoch": False, "empty": True}

    def update_from_lake_epoch(
        self, table, epoch: int, *, delta_dir: str | None = None
    ) -> dict:
        """Fold the epoch in. A fresh commit passes its ``delta_dir`` —
        in-loop compaction may fold the epoch out of the snapshot before
        this sync runs. Without it (the export lags the table after a
        crash) the change feed serves the epoch: it also normalizes
        renamed columns, which delta files carry under their write-time
        names, and raises once compaction folded the epoch."""
        with self._lock:
            if epoch in self.committed_epochs():
                return {"epoch": epoch, "skipped_duplicate_epoch": True}
            if delta_dir is not None:
                feed = table.spark.read.parquet(
                    *table.epoch_delta_paths(epoch, delta_dir=delta_dir)
                )
            else:
                feed = table.changes_between(epoch - 1, epoch)
            refresh_from_changes(table.spark, self.path, feed, mark_epoch=epoch)
        return {"epoch": epoch, "skipped_duplicate_epoch": False}


def purge_corpus_keys(spark, path: str, ids: list) -> dict:
    """Compliance purge of an export (the consumer-side half of
    ``lake.purge_keys``): the documents' rows leave the shard FILES —
    affected shards rewrite via :func:`refresh_corpus_shards`, cold
    shards untouched — and the ``_tombstones`` sidecar drops any trace
    of the ids (a purged key recorded in the sidecar is still that
    key's data on disk).

    Distinct from a CDC delete: a delete RECORDS a tombstone so future
    feed refreshes keep the doc out; a purge removes every byte,
    including the record that the doc ever existed. A later
    ``refresh_from_changes`` can resurrect a purged key only if the
    upstream lake still serves it — run ``lake.purge_keys`` first.
    Cost: O(affected shards + sidecar), never O(corpus)."""
    from pyspark.sql import types as T

    if not ids:
        raise ValueError("purge_corpus_keys needs at least one id")
    mpath = os.path.join(path, MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    id_col = manifest["id_col"]
    schema = T.StructType.fromJson(manifest["schema"])
    id_type = next(f.dataType for f in schema if f.name == id_col)
    iddf = spark.createDataFrame(
        [(i,) for i in ids], T.StructType([T.StructField(id_col, id_type)])
    )
    manifest = refresh_corpus_shards(spark, path, deletes=iddf)
    rel = _tombstone_dir(manifest)
    purged_tombstones = 0
    if rel:
        tomb = spark.read.parquet(os.path.join(path, rel))
        hit = tomb.filter(F.col(id_col).isin(ids))
        purged_tombstones = hit.count()
        if purged_tombstones:
            kept = tomb.filter(~F.col(id_col).isin(ids))
            manifest = _commit_tombstones(
                spark, path, manifest, kept,
                manifest.get("version_cols", []),
            )
    manifest["purged_tombstones"] = purged_tombstones
    return manifest
