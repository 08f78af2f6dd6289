"""Compaction for :class:`~embulk_spark.streaming.lake.ParquetLakeTable`:
fold deltas into the hash-bucketed base and partition evolution
(rebucket). Every fold — full (all buckets), hot-bucket, explicit bucket
set, delta binpack, purge — runs the one bucket-set fold ``_fold``.
Mechanically split out of lake.py (round 4, no behavior change): the
methods run as part of ParquetLakeTable via mixin inheritance and are
documented there."""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.merge import bucket_of, dedup_latest
from .lake_util import CommitConflict


class CompactionMixin:
    # ------------------------------------------------------------------
    # compaction: fold deltas into the hash-bucketed base
    # ------------------------------------------------------------------

    def maybe_compact(self) -> dict | None:
        snap = self.current_snapshot()
        delta_rows = sum(d["rows"] for d in snap["deltas"])
        if len(snap["deltas"]) < self.compact_min_deltas:
            return None
        hot_mode = self.compact_mode == "hot"
        # hot mode's per-bucket trigger lives inside compact_hot; the
        # min_deltas gate above bounds how often its O(Δ) selection scan
        # runs
        if not hot_mode and (
            delta_rows < self.compact_ratio * max(1, snap["base_rows"])
        ):
            return None
        # the newest feed_retain_epochs epochs are exempt from any fold so
        # the incremental feed keeps serving them per-epoch; with nothing
        # else pending a fold would only rewrite base files
        retain = self._feed_retain_set(snap)
        if not self._fold_groups(snap, retain):
            return None
        if not self._compact_lock.acquire(blocking=False):
            return None  # a pipelined sibling is already compacting
        try:
            if not hot_mode:
                return self.compact(retain_epochs=retain)
            # no bucket justifying a base fold → binpack the aged-out
            # groups into one deduped residual (base untouched) so the
            # manifest and small-file count stay bounded
            return self.compact_hot(retain_epochs=retain) or self.compact(
                buckets=[], retain_epochs=retain
            )
        finally:
            self._compact_lock.release()

    @property
    def feed_retain_epochs(self) -> int:
        """Defaults to the CURRENT compact_min_deltas (tracked live, so
        tuning the trigger post-construction keeps the feed horizon in
        sync) unless set explicitly at construction."""
        return (
            self.compact_min_deltas if self._feed_retain_epochs is None
            else self._feed_retain_epochs
        )

    def _feed_retain_set(self, snap: dict) -> set[int]:
        """Committed epochs young enough that auto-compaction must keep
        their delta groups individually servable by the incremental feed
        (the newest ``feed_retain_epochs`` of the epoch sequence)."""
        if self.feed_retain_epochs <= 0:
            return set()
        eps = sorted(int(e) for e in snap["committed_epochs"])
        return set(eps[-self.feed_retain_epochs:])

    def _fold_groups(
        self, snap: dict, retain_epochs: set[int] | None
    ) -> list[dict]:
        """The delta groups a fold of ``snap`` absorbs. Groups of the
        retained epochs ride through untouched — neither folded into the
        base nor binpacked into the residual. A non-empty
        ``retain_epochs`` is re-anchored to THIS capture: an epoch a
        pipelined sibling committed since the caller chose the set is
        inside the current newest-N feed window and must not be folded
        out of the feed. An empty set folds every group."""
        retain = set(retain_epochs or ())
        if retain:
            retain |= self._feed_retain_set(snap)
        return [
            d for d in snap["deltas"]
            if d.get("epoch_id") is None or int(d["epoch_id"]) not in retain
        ]

    def compact(
        self,
        tombstone_retention_ts: str | None = None,
        *,
        buckets: list[int] | None = None,
        retain_epochs: set[int] | None = None,
        drop_keys: list[str] | None = None,
    ) -> dict:
        """Fold pending deltas into the bucketed base (one row per url
        per folded bucket). ``tombstone_retention_ts``: drop tombstones
        older than this watermark — safe once events that late can no
        longer arrive. Retries from a fresh snapshot if a concurrent
        compaction (another process) replaced the base while this one
        ran.

        ``buckets``: the base buckets to fold into (Iceberg's
        `rewrite_data_files ... WHERE` / binpack-with-filter); None means
        every bucket, or with ``drop_keys`` the buckets those keys hash
        to under the captured snapshot. Delta rows outside the set are
        rewritten as one per-url-deduped *residual* delta group instead
        of touching their base buckets, so the rewrite costs O(selected
        base slice + all deltas) — never O(table). At 100 TB with a
        hot-domain change stream this is the only affordable shape: the
        cold 99% of the base is carried forward by reference (same
        files, byte-identical). ``buckets=[]`` is a pure delta binpack.
        Residual groups carry ``epoch_id: None`` plus the folded epoch
        set; changes_between serves a range from the residual when the
        range fully covers that set, and raises "cursor too old"
        otherwise. With no foldable delta the selected base buckets are
        still rewritten (re-layout after ``set_properties``, purge).
        ``retain_epochs``: delta groups of these epochs are carried
        forward untouched (never folded) — auto maintenance passes the
        newest ``feed_retain_epochs`` epochs here so pollers keep exact
        per-epoch feed service. ``drop_keys``: every stored version of
        these urls is left out of the rewrite (purge_keys)."""
        while True:
            snap = self.current_snapshot()
            sel = buckets
            if sel is None:
                nb = self._nb(snap)
                # purge: the victim buckets MUST derive from the snapshot
                # this fold captures — a stale set under a concurrent
                # rebucket would leave un-rewritten buckets (and an
                # unfiltered residual) holding the keys
                sel = (
                    self._buckets_of_keys(list(drop_keys), nb) if drop_keys
                    else range(nb)
                )
            try:
                return self._fold(
                    snap, sel, retain_epochs=retain_epochs,
                    drop_keys=drop_keys,
                    tombstone_retention_ts=tombstone_retention_ts,
                )
            except CommitConflict:
                continue

    def compact_hot(
        self,
        *,
        ratio: float | None = None,
        max_buckets: int | None = None,
        tombstone_retention_ts: str | None = None,
        retain_epochs: set[int] | None = None,
    ) -> dict | None:
        """Partial-compact the buckets where deltas concentrate: fold
        bucket ``b`` when its pending delta rows ≥ ``ratio`` × its base
        rows (the global ``compact_ratio`` trigger applied per bucket —
        rewrite amplification bounded to 1/ratio per delta row folded).
        ``max_buckets`` caps the fold to the hottest ones by delta volume.
        Returns None when no deltas exist or no bucket qualifies.

        Per-bucket delta volume comes from ONE O(Δ) column-pruned scan of
        the delta files (bkt only); the base is never read for selection.
        On a skewed change stream (the north rule's hot-domain case) this
        keeps compaction cost proportional to the hot set: the zipf head's
        buckets fold every few epochs while the cold tail's base files are
        never rewritten."""
        r = self.compact_ratio if ratio is None else ratio
        while True:
            snap = self.current_snapshot()
            # selection counts only what a fold could actually absorb —
            # retained (feed-servable) epochs' rows don't make a bucket hot
            delta = self._read_file_groups(
                snap,
                [
                    (int(d["schema_v"]), d["files"])
                    for d in self._fold_groups(snap, retain_epochs)
                ],
            )
            if delta is None:
                return None
            cnt = {
                int(row["bkt"]): int(row["n"])
                for row in delta.groupBy("bkt").agg(
                    F.count(F.lit(1)).alias("n")
                ).collect()
            }
            base_rows = {
                int(b): int(e.get("rows") or 0)
                for b, e in snap["base"].items()
            }
            hot = [
                b for b, n in cnt.items()
                if n >= r * max(1, base_rows.get(b, 0))
            ]
            if not hot:
                return None
            hot.sort(key=lambda b: cnt[b], reverse=True)
            if max_buckets is not None:
                hot = hot[:max_buckets]
            try:
                return self._fold(
                    snap, hot, retain_epochs=retain_epochs,
                    tombstone_retention_ts=tombstone_retention_ts,
                )
            except CommitConflict:
                continue  # concurrent base change: re-select and retry

    def _approx_input_bytes(
        self, snap: dict, buckets: list[int] | None = None
    ) -> int:
        """Manifest-derived on-disk bytes a fold will rewrite: the base
        entries (optionally only ``buckets``) plus every pending delta
        group (deltas aren't bucket-splittable in the manifest; they're
        small relative to the base by the time a fold triggers). Drives
        target_file_bytes output sizing — an estimate, not accounting."""
        want = None if buckets is None else {int(b) for b in buckets}
        base = [
            e
            for b, e in snap.get("base", {}).items()
            if want is None or int(b) in want
        ]
        return self._entry_bytes(base) + self._entry_bytes(
            snap.get("deltas", [])
        )

    def _write_bucketed_base(
        self, merged: DataFrame, snap: dict, nb: int, prefix: str,
        approx_bytes: int | None = None,
    ) -> tuple[dict, int]:
        """One distributed job writing ``merged`` as a fresh bucketed base
        (bkt column already assigned under ``nb``); returns the manifest
        base map + total rows. Shared by compaction and rebucket.

        Salted repartition: one task per (bucket, salt) instead of one per
        bucket, so the rewrite saturates the cluster even when nb < cores
        and a bucket never becomes a straggler task (the reference's
        scatter fan-out generalized,
        exec/LocalExecutorPlugin.java:58-70,444-454). Url-sort within each
        task: every written file's parquet row-groups then hold disjoint
        url ranges, so a point lookup (lookup_urls) touches ONE row-group
        per file via min/max stats instead of scanning the bucket — free
        here (the shuffle already paid), O(bucket/row-groups) at read
        time."""
        rel_dir = f"data/{prefix}_{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.path, rel_dir)
        from ..operators.merge import salted_repartition

        if self.target_file_bytes and approx_bytes is not None:
            # bytes-proportional output: ~1 file per write partition, so
            # n_parts ≈ files ≈ input_bytes / target (≥1 per bucket)
            import math

            n_parts = max(
                nb, math.ceil(approx_bytes / self.target_file_bytes)
            )
        else:
            n_parts = max(
                nb,
                int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")),
            )
        sort_cols = [c for c in self.sort_columns if c in merged.columns]
        if sort_cols and self.cluster_mode == "zorder" and len(sort_cols) >= 2:
            # Morton clustering (streaming/zorder.py): files become
            # hyper-rectangles in sort-column space so manifest stats
            # prune on ANY of the columns. One extra quantile pass over
            # the merge (like the range branch's sampling pass, also
            # maintenance-only); the write is still ONE range shuffle.
            from .zorder import quantile_edges, with_z_column

            edges = quantile_edges(merged, sort_cols)
            salted = with_z_column(
                merged.withColumn("bucket", F.col("bkt")), sort_cols, edges
            )
            salted = salted.repartitionByRange(n_parts, "bucket", "_z")
            salted = salted.sortWithinPartitions("bucket", "_z", "url").drop(
                "_z"
            )
        elif sort_cols:
            # Iceberg write sort-order: range-partition on (bucket,
            # *sort_columns) so a bucket's files hold DISJOINT sort-key
            # ranges — per-file manifest stats then skip whole files for
            # predicates on those columns (scan_where). The range
            # sampling pass re-runs the upstream merge once; acceptable
            # inside maintenance, which is why the hot epoch path never
            # takes this branch. Skew safety comes from the range
            # partitioner itself (a hot (bucket, key) spreads across
            # consecutive partitions).
            salted = merged.withColumn(
                "bucket", F.col("bkt")
            ).repartitionByRange(n_parts, "bucket", *sort_cols)
            salted = salted.sortWithinPartitions("bucket", *sort_cols, "url")
        else:
            spread = max(1, n_parts // nb)
            salted = salted_repartition(
                merged.withColumn("bucket", F.col("bkt")), n_parts,
                key="bucket", spread=spread,
            )
            salted = salted.sortWithinPartitions("bucket", "url")
        salted.write.partitionBy("bucket").mode("overwrite").parquet(out_dir)
        new_base: dict[str, dict] = {}
        total_rows = 0
        import pyarrow.parquet as pq

        for entry in sorted(os.listdir(out_dir)):
            if not entry.startswith("bucket="):
                continue
            b = int(entry.split("=")[1])
            bdir = os.path.join(out_dir, entry)
            files, rows = [], 0
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    fp = os.path.join(bdir, fn)
                    files.append(os.path.relpath(fp, self.path))
                    rows += pq.ParquetFile(fp).metadata.num_rows
            new_base[str(b)] = {
                "files": files, "schema_v": snap["schema_v"], "rows": rows,
            }
            total_rows += rows
        all_files = [f for e in new_base.values() for f in e["files"]]
        fstats = self._maybe_stats(all_files)
        if fstats:
            for e in new_base.values():
                self._attach_stats(
                    e, {f: fstats[f] for f in e["files"] if f in fstats}
                )
        return new_base, total_rows

    def _entry_bytes(self, entries) -> int:
        """Total on-disk bytes of base-map entries' files (compaction IO
        accounting: what the fold actually rewrote)."""
        total = 0
        for e in entries:
            for f in e["files"]:
                fp = os.path.join(self.path, f)
                if os.path.exists(fp):
                    total += os.path.getsize(fp)
        return total

    def _fold(
        self,
        snap: dict,
        buckets: Iterable[int],
        *,
        retain_epochs: set[int] | None = None,
        drop_keys: list[str] | None = None,
        tombstone_retention_ts: str | None = None,
    ) -> dict:
        """The one fold body behind compact / compact_hot / maybe_compact
        / purge_keys: merge the captured foldable deltas into
        ``buckets``' base slices only.

        The base read is limited to the selected buckets. Cold delta rows
        (outside the selection) are deduped per url (the winner survives
        — same (warc_ts, seq) resolution as every read, so collapsing
        losers is semantics-preserving) and written back as one residual
        group; cold BASE buckets are carried forward by reference. When
        every bucket is selected no delta row is cold, so there is no
        residual job and the delta is read once. Iceberg analogue:
        rewrite_data_files with a partition filter."""
        t0 = time.perf_counter()
        hot = sorted({int(b) for b in buckets})
        hot_set = set(hot)
        nb = self._nb(snap)
        bad = [b for b in hot if b < 0 or b >= nb]
        if bad:
            raise ValueError(f"buckets {bad} outside [0, {nb})")
        if retain_epochs and drop_keys:
            raise ValueError(
                "drop_keys cannot combine with retain_epochs: a retained "
                "delta group may hold a purged key's rows — purge folds "
                "every group"
            )
        if retain_epochs and tombstone_retention_ts:
            raise ValueError(
                "tombstone_retention_ts cannot combine with retain_epochs: "
                "a retained group may hold an older (late-data) live row "
                "for a url whose tombstone would be retired before the "
                "fold ever sees that row — fold fully, then expire"
            )
        fold_groups = self._fold_groups(snap, retain_epochs)
        delta = self._read_file_groups(
            snap, [(int(d["schema_v"]), d["files"]) for d in fold_groups]
        )
        base_hot = self._base_df(snap, hot)
        if delta is None and base_hot is None:
            # nothing selected holds rows and nothing is foldable
            return {"compaction": True, "partial": True, "noop": True}
        cold = delta is not None and len(hot) < nb
        read_twice = cold and bool(hot)  # hot merge + residual
        if read_twice:
            delta = delta.persist()
        hot_base: dict[str, dict] = {}
        res_files, res_rows, res_bytes, res_stats = [], 0, 0, None
        try:
            if hot:
                hot_delta = (
                    delta.filter(F.col("bkt").isin(hot)) if cold else delta
                )
                if hot_delta is None:
                    merged_hot = base_hot  # already one row per url
                else:
                    merged_hot = dedup_latest(
                        hot_delta if base_hot is None
                        else base_hot.unionByName(hot_delta)
                    )
                if drop_keys:
                    # purge: the selection covers every bucket the keys
                    # hash to, so filtering the hot merge removes every
                    # stored version; the cold residual cannot hold them
                    merged_hot = merged_hot.filter(
                        ~F.col("url").isin(list(drop_keys))
                    )
                if tombstone_retention_ts:
                    # retention applies ONLY where base and deltas
                    # merged: a residual tombstone may be guarding a live
                    # row in a cold (carried-forward) base bucket —
                    # dropping it would resurrect that row. Cold
                    # tombstones retire when their bucket eventually folds.
                    merged_hot = merged_hot.filter(
                        (~F.col("is_deleted"))
                        | (F.col("warc_ts") >= F.lit(tombstone_retention_ts))
                    )
                hot_base, _ = self._write_bucketed_base(
                    merged_hot, snap, nb, "compact",
                    approx_bytes=self._approx_input_bytes(snap, hot),
                )
            if cold:
                # residual write: no shuffle (the dedup agg already placed
                # rows); bkt+url sort within tasks so the bkt IN filter on
                # future reads prunes at row-group granularity
                rel_dir = f"data/resid_{uuid.uuid4().hex[:8]}"
                dedup_latest(
                    delta.filter(~F.col("bkt").isin(hot))
                ).sortWithinPartitions("bkt", "url").write.mode(
                    "overwrite"
                ).parquet(os.path.join(self.path, rel_dir))
                res_files, res_rows, res_bytes = self._list_files(rel_dir)
                res_stats = self._maybe_stats(res_files)
        finally:
            if read_twice:
                delta.unpersist()
        new_delta = (
            {
                "files": res_files,
                "schema_v": snap["schema_v"],
                "rows": res_rows,
                # no single source epoch: these rows span every folded
                # epoch's cold-bucket remainder. None keeps them out of
                # changes_between's serving range (feed over folded epochs
                # raises, exactly as after a full compaction) and out of
                # the side-index epoch sync (g.get("epoch_id") == e never
                # matches).
                "epoch_id": None,
                "folded_epochs": sorted(
                    {
                        int(d["epoch_id"]) for d in fold_groups
                        if d.get("epoch_id") is not None
                    }
                    | {
                        int(e) for d in fold_groups
                        for e in d.get("folded_epochs", ())
                    }
                ),
                # the residual is the folded epochs' COMPLETE net
                # change-set only when this fold touched no base bucket
                # AND every absorbed prior residual was itself complete
                # (an incomplete ancestor is missing hot rows forever;
                # a pre-flag residual's hotness is unknown → not complete)
                "feed_complete": not hot and all(
                    d.get("epoch_id") is not None
                    or d.get("feed_complete", False)
                    for d in fold_groups
                ),
                **(
                    {"stats_ref": self._write_manifest(res_stats)}
                    if res_stats else {}
                ),
            }
            if res_rows else None
        )
        new_base = {
            b: e for b, e in snap["base"].items() if int(b) not in hot_set
        }
        new_base.update(hot_base)
        total_rows = sum(int(e.get("rows") or 0) for e in new_base.values())
        metrics = {
            "compaction": True,
            "partial": True,
            "buckets_folded": hot,
            "base_rows": total_rows,
            "deltas_folded": len(fold_groups),
            "deltas_retained": len(snap["deltas"]) - len(fold_groups),
            "residual_rows": res_rows,
            "bytes_rewritten": self._entry_bytes(hot_base.values()) + res_bytes,
            "seconds": round(time.perf_counter() - t0, 3),
        }
        return self._commit(
            snap, None, metrics=metrics, lineage=[],
            new_base=new_base, new_base_rows=total_rows,
            new_delta=new_delta,
            folded_deltas=fold_groups,
            expect_base_of=snap,
        )

    def rebucket(self, new_n_buckets: int) -> dict:
        """Partition evolution (Iceberg's bucket-spec evolution, executed
        as one rewrite): re-hash the whole table — base AND deltas folded
        — into ``new_n_buckets`` and commit atomically. The bucket count
        chosen at table creation is wrong two orders of magnitude later;
        without this, a 10^10-row table is stuck with buckets sized for
        10^8 (stragglers in compaction, coarse lookup pruning).

        Semantics: readers of any pre-rebucket snapshot (time travel,
        in-flight reads pinned to a captured version) still see the old
        layout — files are immutable and the manifest records n_buckets
        per snapshot. A concurrent epoch/compaction commit aborts this
        rewrite (its delta/base was produced under the OLD hashing and
        set-merge rebase cannot re-hash it); we retry from the fresh
        snapshot, and the abandoned files become cleanup_orphans() fodder.
        Staged (WAP) epochs hold old-layout change-sets too — publish or
        abort them first; a stale stage that survives anyway is rejected
        at publish time (n_buckets recorded in the staged manifest)."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        while True:
            snap = self.current_snapshot()
            if self._nb(snap) == new_n_buckets:
                return {"rebucket": True, "noop": True,
                        "n_buckets": new_n_buckets}
            staged = self.staged_epochs()
            if staged:
                raise ValueError(
                    f"staged epochs {sorted(staged)} hold change-sets under "
                    f"the current bucketing; publish or abort them before "
                    f"rebucketing"
                )
            merged = (
                self.read(version=snap["version"])
                .drop("bkt")
                .withColumn("bkt", bucket_of(F.col("url"), new_n_buckets))
            )
            new_base, total_rows = self._write_bucketed_base(
                merged, snap, new_n_buckets, "rebucket",
                approx_bytes=self._approx_input_bytes(snap),
            )
            metrics = {
                "rebucket": True,
                "n_buckets": new_n_buckets,
                "base_rows": total_rows,
                "deltas_folded": len(snap["deltas"]),
            }
            try:
                out = self._commit(
                    snap, None, metrics=metrics, lineage=[],
                    new_base=new_base, new_base_rows=total_rows,
                    folded_deltas=snap["deltas"],
                    expect_base_of=snap, expect_deltas_of=snap,
                    n_buckets=new_n_buckets,
                )
            except CommitConflict:
                continue  # concurrent commit; rewrite from fresh snapshot
            self.n_buckets = new_n_buckets
            return out

