"""Scan planning, stats-pruned reads and the incremental change feed
of :class:`~embulk_spark.streaming.lake.ParquetLakeTable` — the
Iceberg-scan-planning surface (file-stats pruning via
streaming/filestats.py sidecars, predicate scans, changes_between /
consume_changes / apply_changes). Mechanically split out of lake.py
(round 4, no behavior change): the methods run as part of
ParquetLakeTable via mixin inheritance and are documented there."""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.merge import bucket_of, dedup_latest


class ScanPlanMixin:
    # ------------------------------------------------------------------
    # stats-pruned scans (streaming/filestats.py — Iceberg scan planning)
    # ------------------------------------------------------------------

    def _write_time_name(
        self, snap: dict, logical: str, schema_v: int
    ) -> str | None:
        """The column name that held ``logical``'s data in files written
        at ``schema_v`` — the inverse of _normalize's forward rename/drop
        chain. None ⇒ the column didn't exist then (or was dropped on the
        way): those files read NULL for it."""
        changes = sorted(
            [dict(r, _op="rename") for r in snap["renames"]]
            + [dict(d, _op="drop") for d in snap.get("drops", [])],
            key=lambda c: c["schema_v"],
        )
        phys = T.StructType.fromDDL(snap["schemas"][str(schema_v)]).fieldNames()
        for p in phys:
            name: str | None = p
            for c in changes:
                if c["schema_v"] <= schema_v:
                    continue
                if c["_op"] == "rename" and c["from"] == name:
                    name = c["to"]
                elif c["_op"] == "drop" and c["name"] == name:
                    name = None
                    break
            if name == logical:
                return p
        return None

    def _resolved_filters(
        self, snap: dict, filters: list[tuple], schema_v: int
    ) -> list[tuple]:
        """Predicates rewritten to a file group's write-time column names
        and the encoded comparison domain (filestats.encode_value)."""
        from .filestats import encode_value

        cur = {f.name: f.dataType for f in self.schema(snap).fields}
        out = []
        for col, op, val in filters:
            if col not in cur:
                raise ValueError(f"unknown column {col!r} in scan filter")
            out.append((
                self._write_time_name(snap, col, schema_v),
                op,
                encode_value(cur[col], val),
            ))
        return out

    def _buckets_of_keys(self, keys, nb: int) -> set[int]:
        """Hash buckets of a key list — one driver-local job over the
        keys (Spark's xxhash64, never re-implemented host-side: no
        drift)."""
        kdf = self.spark.createDataFrame([(u,) for u in keys], "url string")
        return {
            r["b"]
            for r in kdf.select(
                bucket_of(F.col("url"), nb).alias("b")
            ).distinct().collect()
        }

    def _key_keep_fn(self, snap: dict, keys: set | None):
        """Strong merge-key file-keep rule as a reusable predicate
        ``(stats_entry, schema_v) -> bool``: can this file hold ANY
        version of any probe key? A bloom negative OR a url-min/max miss
        (per key) is definitive even in dirty buckets and among deltas —
        every version of a key lives only in files containing it. No
        signal degrades to keep. ``keys=None`` keeps everything."""
        from .filestats import bloom_maybe_contains, could_match, encode_value

        wt_cache: dict[int, str | None] = {}

        def skeep(st_entry: dict | None, schema_v: int) -> bool:
            if keys is None:
                return True
            if schema_v not in wt_cache:
                wt_cache[schema_v] = self._write_time_name(
                    snap, "url", schema_v
                )
            wt = wt_cache[schema_v]
            kb = (st_entry or {}).get("kb")
            for u in keys:
                if kb is not None and not bloom_maybe_contains(kb, u):
                    continue
                if (
                    st_entry is not None
                    and wt is not None
                    and not could_match(
                        st_entry, [(wt, "=", encode_value(T.StringType(), u))]
                    )
                ):
                    continue
                return True
            return False

        return skeep

    def scan_plan(
        self, filters: list[tuple], *, version: int | None = None
    ) -> dict:
        """Plan a predicate scan from manifest stats alone (no data IO).

        ``filters``: conjunctive ``(column, op, value)`` triples, op in
        =/</<=/>/>= (plus ``in`` on the merge key ``url``), evaluated
        against the MERGED latest state. Sound pruning under MOR (see
        streaming/filestats.py):

        * skip a bucket iff NO file covering it could match;
        * in kept buckets WITHOUT pending delta coverage ("clean"),
          additionally skip non-matching base files (the base holds one
          row per key, so no other version hides there);
        * delta files are never stat-pruned — any one covering a kept
          bucket may supersede a matching row — they only vote on kept
          buckets.

        EXCEPT for equality on the merge key itself: ``("url","=",v)`` /
        ``("url","in",[...])`` prune per-FILE everywhere, deltas and
        dirty buckets included — every version of a key lives only in
        files containing that key, so a file whose bloom says "absent"
        (or whose url min/max excludes every probe key) cannot hold ANY
        version of it. Buckets additionally restrict to the keys' hash
        buckets.

        Files without stats degrade to "could match" + "covers all
        buckets". Returns the group list scan_where reads plus skip
        accounting."""
        from .filestats import could_match, file_bucket_cover

        snap = (
            self.snapshot_at(version) if version is not None
            else self.current_snapshot()
        )
        nb = self._nb(snap)
        # conjunction of url-equality filters → one effective key set
        keys: set | None = None
        attr: list[tuple] = []
        for f in filters:
            col, op, val = f
            if col == "url" and op in ("=", "in"):
                s = {val} if op == "=" else set(val)
                keys = s if keys is None else keys & s
            else:
                attr.append(f)
        rf_cache: dict[int, list[tuple]] = {}

        def rf(schema_v: int) -> list[tuple]:
            if schema_v not in rf_cache:
                rf_cache[schema_v] = self._resolved_filters(
                    snap, attr, schema_v
                )
            return rf_cache[schema_v]

        skeep = self._key_keep_fn(snap, keys)
        kept: set[int] = set()
        dirty: set[int] = set()  # buckets with any delta coverage
        delta_cover: list[tuple[dict, str, int, int]] = []
        for d in snap["deltas"]:
            st = self.group_stats(d) or {}
            for f in d["files"]:
                lo, hi = file_bucket_cover(st.get(f), nb)
                dirty.update(range(lo, hi + 1))
                delta_cover.append((d, f, lo, hi))
                if could_match(st.get(f), rf(int(d["schema_v"]))):
                    kept.update(range(lo, hi + 1))
        base_match: dict[str, list[str]] = {}
        for b, entry in snap["base"].items():
            st = self.group_stats(entry) or {}
            hits = [
                f for f in entry["files"]
                if could_match(st.get(f), rf(int(entry["schema_v"])))
            ]
            base_match[b] = hits
            if hits:
                kept.add(int(b))
        if keys is not None:
            kept &= self._buckets_of_keys(keys, nb) if keys else set()

        groups: list[tuple[int, list[str]]] = []
        base_read = 0
        base_total = sum(len(e["files"]) for e in snap["base"].values())
        for b, entry in snap["base"].items():
            if int(b) not in kept:
                continue
            st = self.group_stats(entry) or {}
            sv = int(entry["schema_v"])
            files = (
                entry["files"] if int(b) in dirty  # dirty: every version
                else base_match[b]                  # clean: file-granular
            )
            files = [f for f in files if skeep(st.get(f), sv)]
            if files:
                groups.append((sv, files))
                base_read += len(files)
        delta_read = 0
        by_group: dict[int, list[str]] = {}
        for d, f, lo, hi in delta_cover:
            if any(b in kept for b in range(lo, hi + 1)) and skeep(
                (self.group_stats(d) or {}).get(f), int(d["schema_v"])
            ):
                by_group.setdefault(id(d), []).append(f)
        for d in snap["deltas"]:
            files = by_group.get(id(d), [])
            if files:
                groups.append((int(d["schema_v"]), files))
                delta_read += len(files)
        return {
            "filters": [list(f) for f in filters],
            "probe_keys": sorted(keys) if keys is not None else None,
            "version": snap["version"],
            "n_buckets": nb,
            "buckets_kept": sorted(kept),
            "buckets_clean": sorted(set(range(nb)) - dirty),
            "base_files_total": base_total,
            "base_files_read": base_read,
            "delta_files_total": len(delta_cover),
            "delta_files_read": delta_read,
            "files_skipped": (base_total - base_read)
            + (len(delta_cover) - delta_read),
            "groups": groups,
        }

    def _pred_column(self, filters: list[tuple], cur: T.StructType):
        ops = {
            "=": lambda c, v: c == v, "<": lambda c, v: c < v,
            "<=": lambda c, v: c <= v, ">": lambda c, v: c > v,
            ">=": lambda c, v: c >= v,
        }
        types = {f.name: f.dataType for f in cur.fields}
        cond = F.lit(True)
        for col, op, val in filters:
            if op == "in":
                cond = cond & F.col(col).isin(list(val))
                continue
            lit = F.lit(val)
            if isinstance(val, str) and isinstance(
                types[col], (T.TimestampType, T.DateType)
            ):
                lit = lit.cast(types[col])
            cond = cond & ops[op](F.col(col), lit)
        return cond

    def scan_where(
        self,
        filters: list[tuple],
        *,
        version: int | None = None,
        published: bool = True,
    ) -> DataFrame:
        """Predicate read over the merged latest state that touches ONLY
        the files scan_plan kept — semantically identical to
        ``published().filter(pred)`` (or ``read().filter(pred)`` with
        ``published=False``), physically O(matching buckets + their
        files). The predicate ALSO runs post-merge, so stats only ever
        skip IO, never decide rows."""
        snap = (
            self.snapshot_at(version) if version is not None
            else self.current_snapshot()
        )
        cur = self.schema(snap)
        plan = self.scan_plan(filters, version=version)
        df = self._read_file_groups(snap, plan["groups"])
        if df is None:
            out = self._empty(cur)
        else:
            kept = plan["buckets_kept"]
            if len(kept) < plan["n_buckets"]:
                # rows a wide delta file carries for pruned buckets can't
                # match — drop them before the merge shuffle
                df = df.filter(F.col("bkt").isin(kept))
            out = dedup_latest(df)
        out = out.filter(self._pred_column(filters, cur))
        if published:
            out = out.filter(~F.col("is_deleted")).drop("is_deleted", "bkt")
        return out

    def changes_between(
        self, since_epoch: int, until_epoch: int | None = None
    ) -> DataFrame:
        """Incremental change-feed read (the lake as a CDC *source* for
        downstream consumers — Iceberg's incremental scan re-expressed):
        one net row per url touched in epochs (since_epoch, until_epoch],
        the (warc_ts, seq)-winner within that range, deletes included as
        ``is_deleted`` tombstone rows. A consumer applying consecutive
        ranges in order reconstructs the table exactly (same MOR
        resolution as ``read``).

        Cost is O(change-set): only the range's delta files are scanned —
        never the base — so a downstream consumer of a 100 TB table pays
        for its lag, not the table. Raises when part of the range has been
        folded into the base by compaction (the consumer's cursor is too
        old → full refresh), mirroring Iceberg's incremental read failing
        over expired snapshots."""
        snap = self.current_snapshot()

        def in_range(e: int) -> bool:
            return e > since_epoch and (until_epoch is None or e <= until_epoch)

        wanted = {e for e in snap["committed_epochs"] if in_range(int(e))}
        # residual groups (partial compaction) carry epoch_id None: their
        # rows left the feed's serving range when their epochs were folded
        groups = [
            (int(d["schema_v"]), d["files"])
            for d in snap["deltas"]
            if d.get("epoch_id") is not None and in_range(int(d["epoch_id"]))
        ]
        available = {
            int(d["epoch_id"]) for d in snap["deltas"]
            if d.get("epoch_id") is not None and in_range(int(d["epoch_id"]))
        }
        # a residual group (epoch_id None) records which epochs it folded;
        # when the fold touched NO base bucket (pure binpack —
        # feed_complete) the residual holds the folded epochs' ENTIRE
        # per-url net change-set, so it serves the feed exactly when its
        # whole folded set lies inside the requested range (a lagging
        # cursor older than the fold). A residual from a hot fold is
        # NOT servable — its hot-bucket winners went into the base — and
        # partial range coverage would re-deliver consumed epochs'
        # winners; both cases fall through to cursor-too-old below.
        for d in snap["deltas"]:
            if d.get("epoch_id") is not None or not d.get("feed_complete"):
                continue
            fe = {int(e) for e in d.get("folded_epochs", ())}
            if fe and all(in_range(e) for e in fe):
                groups.append((int(d["schema_v"]), d["files"]))
                available |= fe
        # empty-batch epochs commit no delta group; they are committed but
        # contribute no rows and must not count as "compacted away"
        folded = wanted - available - self._empty_epochs(snap)
        if folded:
            raise ValueError(
                f"epochs {sorted(folded)} were compacted into the base — "
                "incremental cursor too old; do a full refresh (read()) "
                "and restart the feed from the current epoch"
            )
        df = self._read_file_groups(snap, groups)
        if df is None:
            return self._empty(self.schema(snap))
        return dedup_latest(df)

    def consume_changes(self, out_dir: str) -> dict:
        """Exactly-once incremental feed CONSUMER step: read the net
        changes between this consumer's cursor and the table head, land
        them as one parquet range directory under ``out_dir``, and
        advance the cursor — crash-safe at every boundary. Each call
        drains whatever committed since the last call (poll it from cron
        or a driver loop: the CDC-out daemon).

        Protocol: the range content is deterministic (same MOR resolution
        as any read), the range dir is named by its epoch bounds, and the
        cursor file updates by atomic rename AFTER the range lands — a
        crash between the two re-computes the identical range, sees the
        directory already present, and just advances the cursor. A cursor
        older than the compaction horizon raises (changes_between's
        contract): remove ``out_dir`` and restart from a full read."""
        os.makedirs(out_dir, exist_ok=True)
        cur_path = os.path.join(out_dir, "_cursor.json")
        since = -1
        if os.path.exists(cur_path):
            with open(cur_path) as f:
                since = int(json.load(f)["since_epoch"])
        # a crash between the range rename and the cursor advance leaves a
        # landed range for this cursor; ADOPT it (advance the cursor to
        # its recorded upper bound) instead of computing a fresh,
        # OVERLAPPING range to a newer head — exactly-once means epochs
        # 5-9 must not ship twice just because epoch 10 committed before
        # the retry
        stale = sorted(
            (d for d in os.listdir(out_dir)
             if d.startswith(f"range_{since}_")),
            key=lambda d: int(d.rsplit("_", 1)[1]),  # NUMERIC: 12 > 9
        )
        if stale:
            target = os.path.join(out_dir, stale[-1])
            head = int(stale[-1].rsplit("_", 1)[1])
            # racing consumers can land several ranges from this cursor
            # with different heads; the widest supersedes the others
            # (same lower bound → strict subsets) — drop them so no
            # downstream ever sees overlapping ranges
            for d in stale[:-1]:
                shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
        else:
            head = max(
                (int(e) for e in self.committed_epochs()), default=None
            )
            if head is None or head <= since:
                return {"since_epoch": since, "rows": 0, "noop": True}
            target = os.path.join(out_dir, f"range_{since}_{head}")
            feed = self.changes_between(since, head)
            scratch = os.path.join(out_dir, f"_tmp_{uuid.uuid4().hex}")
            feed.write.mode("overwrite").parquet(scratch)
            try:
                os.rename(scratch, target)
            except OSError:
                # a concurrent consumer landed this range first
                shutil.rmtree(scratch, ignore_errors=True)
                if not os.path.isdir(target):
                    raise
        rows = self.spark.read.parquet(target).count()
        tmp = cur_path + f".tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"since_epoch": head}, f)
        os.rename(tmp, cur_path)
        return {"since_epoch": since, "until_epoch": head,
                "rows": rows, "out": target}

    def apply_changes(
        self, changes: DataFrame, epoch_id: int, *, evolve: bool = False
    ) -> dict:
        """Apply a change-feed range (the output of ``changes_between`` /
        ``consume_changes``: net winner rows per url, tombstones included,
        text already extracted) as ONE idempotent epoch commit — no
        re-deduplication, no re-extraction, no per-event processing. This
        is the replica half of lake-to-lake replication
        (``streaming/replicate.py``): a downstream mirror pays
        O(change-set) write cost per sync, never O(table) and never the
        upstream's extraction CPU.

        Rows are normalized to THIS table's current schema (columns the
        replica doesn't declare are dropped, missing declared columns
        null) and re-bucketed under its layout — source and replica may
        use different bucket counts. Duplicate delivery skips on
        ``epoch_id`` exactly like ``merge_epoch``; MOR winner resolution
        makes a re-applied range a semantic no-op either way.

        ``evolve=True`` propagates ADDITIVE schema evolution: a feed
        column the replica doesn't declare triggers ``add_column`` (same
        name and type) before the apply — the Debezium/Fivetran-style
        default for downstream mirrors. Renames and drops are DDL
        decisions, not inferable from a column list — apply the same
        ``rename_column``/``drop_column`` to the replica.
        """
        snap = self.current_snapshot()
        if epoch_id in set(snap["committed_epochs"]):
            return {"epoch_id": epoch_id, "skipped_duplicate_epoch": True}
        if evolve:
            declared = set(self.schema(snap).fieldNames())
            for f in changes.schema.fields:
                if f.name not in declared and f.name != "bkt":
                    self.add_column(f.name, f.dataType.simpleString())
            snap = self.current_snapshot()  # re-capture past the DDLs
        cur = self.schema(snap)
        nb = self._nb(snap)
        have = set(changes.columns)
        rows = changes.select(
            *[
                (F.col(f.name).cast(f.dataType) if f.name in have
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in cur.fields
            ]
        ).withColumn("bkt", bucket_of(F.col("url"), nb))

        rel_dir = f"data/e{epoch_id:08d}_{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.path, rel_dir)
        from pyspark.sql import Observation

        obs = Observation(f"replica_epoch_{epoch_id}")
        rows.observe(
            obs,
            F.count(F.lit(1)).alias("keys"),
            F.sum(F.col("is_deleted").cast("long")).alias("deletes"),
            F.max("warc_ts").alias("max_ts"),
        ).write.mode("overwrite").parquet(out_dir)
        stats = obs.get
        files, rows_written, nbytes = self._list_files(rel_dir)
        if rows_written == 0:
            return self._commit(
                snap, epoch_id,
                metrics={"epoch_id": epoch_id, "replicated": True,
                         "rows_in": 0, "empty_batch": True},
                lineage=[],
            )
        metrics = {
            "epoch_id": epoch_id,
            "replicated": True,
            "keys_in_batch": int(stats["keys"]),
            "delete_keys": int(stats["deletes"] or 0),
            "rows_written": rows_written,
            "delta_files": len(files),
            "delta_bytes": nbytes,
            "max_warc_ts": str(stats["max_ts"]),
            "delta_dir": rel_dir,
        }
        delta_group = {
            "files": files,
            "schema_v": snap["schema_v"],
            "rows": rows_written,
            "epoch_id": epoch_id,
        }
        self._attach_stats(delta_group, self._maybe_stats(files))
        out = self._commit(
            snap, epoch_id, metrics=metrics, lineage=[],
            new_delta=delta_group, expect_nb=nb,
        )
        self.maybe_compact()
        return out

    def _empty_epochs(self, snap: dict | None = None) -> set[int]:
        """Epochs committed with empty batches (no delta group ever
        existed) as of ``snap`` (default: the current snapshot). Every
        snapshot carries the list, like ``committed_epochs``, so it
        survives expire_snapshots, rollback and fast_forward."""
        snap = snap or self.current_snapshot()
        return {int(e) for e in snap.get("empty_epochs", ())}

