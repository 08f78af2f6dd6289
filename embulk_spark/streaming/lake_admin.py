"""Maintenance and ref management for
:class:`~embulk_spark.streaming.lake.ParquetLakeTable`: orphan cleanup,
snapshot rollback/expiry, bulk import, shallow clone, anti-entropy
verify, tags, and branches (create / fast-forward / drop).
Mechanically split out of lake.py (round 4, no behavior change): the
methods run as part of ParquetLakeTable via mixin inheritance and are
documented there."""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import extract_text
from ..operators.merge import bucket_of, dedup_latest
from .lake_util import CommitConflict, _atomic_create_json


class MaintenanceMixin:
    # ------------------------------------------------------------------
    # maintenance: orphan cleanup & snapshot expiry
    # ------------------------------------------------------------------

    def _referenced_files(self, snaps: list[dict]) -> set[str]:
        refs: set[str] = set()
        for snap in snaps:
            for entry in snap["base"].values():
                refs.update(entry["files"])
            for d in snap["deltas"]:
                refs.update(d["files"])
        return refs

    def cleanup_orphans(self, grace_seconds: float = 3600.0) -> dict:
        """Delete data files referenced by NO retained snapshot — debris of
        crashes between a delta write and its commit. Files younger than
        ``grace_seconds`` are kept (they may belong to an in-flight
        pipelined epoch). Reference semantics: Embulk's ``cleanup``
        command removing intermediate data of failed transactions
        (exec/BulkLoader.java:471-505, cli/Command.java:5)."""
        # EVERY ref pins files, whichever ref runs the GC: main's
        # snapshots/staged, this handle's (if a branch), and every
        # branch's — a branch handle must never treat main-only files
        # as orphans (or vice versa)
        bd = self._branches_dir()
        snap_dirs = {os.path.join(self.path, "snapshots"), self._snap_dir}
        staged_dirs = {os.path.join(self.path, "staged"), self._staged_dir}
        if os.path.isdir(bd):
            for n in sorted(os.listdir(bd)):
                snap_dirs.add(os.path.join(bd, n, "snapshots"))
                staged_dirs.add(os.path.join(bd, n, "staged"))
        snaps = []
        for d in sorted(snap_dirs):
            if not os.path.isdir(d):
                continue
            for fn in sorted(os.listdir(d)):
                if fn.startswith("v") and fn.endswith(".json"):
                    with open(os.path.join(d, fn)) as f:
                        snaps.append(json.load(f))
        refs = self._referenced_files(snaps)
        mrefs = {
            e["stats_ref"]
            for snap in snaps
            for e in list(snap["base"].values()) + snap["deltas"]
            if e.get("stats_ref")
        }
        # staged (WAP) epochs are deliberately not in any snapshot yet —
        # their files are referenced by the staged manifests, not orphans
        for d in staged_dirs:
            if not os.path.isdir(d):
                continue
            for fn in sorted(os.listdir(d)):
                if fn.startswith("e") and fn.endswith(".json"):
                    with open(os.path.join(d, fn)) as f:
                        man = json.load(f)
                    if man.get("delta"):
                        refs.update(man["delta"]["files"])
                        if man["delta"].get("stats_ref"):
                            mrefs.add(man["delta"]["stats_ref"])
        now = time.time()
        removed, kept_young = [], 0
        for root, _dirs, fns in os.walk(self._data_dir):
            for fn in fns:
                fp = os.path.join(root, fn)
                rel = os.path.relpath(fp, self.path)
                if rel in refs or not fn.endswith(".parquet"):
                    continue
                if now - os.path.getmtime(fp) < grace_seconds:
                    kept_young += 1
                    continue
                os.remove(fp)
                removed.append(rel)
        # drop now-empty data directories
        for root, dirs, fns in os.walk(self._data_dir, topdown=False):
            if root != self._data_dir and not dirs and not fns:
                os.rmdir(root)
        # stats manifest sidecars referenced by NO retained snapshot or
        # staged epoch (debris of expired snapshots / crashed writes) go
        # the same way, under the same grace window
        man_removed = 0
        mdir = os.path.join(self.path, "manifests")
        if os.path.isdir(mdir):
            for fn in sorted(os.listdir(mdir)):
                rel = f"manifests/{fn}"
                fp = os.path.join(mdir, fn)
                if rel in mrefs or not fn.endswith(".json"):
                    continue
                if now - os.path.getmtime(fp) < grace_seconds:
                    kept_young += 1
                    continue
                os.remove(fp)
                man_removed += 1
        return {"orphans_removed": len(removed), "kept_in_grace": kept_young,
                "manifests_removed": man_removed}

    def rollback_to(self, version: int) -> dict:
        """Restore the table to snapshot ``version``'s state by publishing
        a NEW snapshot carrying that state (Iceberg rollback semantics:
        history is never rewritten, so time travel and concurrent readers
        stay consistent, and create-exclusive versioning keeps the
        rollback linearizable with in-flight epoch commits).

        Epochs undone by the rollback leave ``committed_epochs``, so a
        subsequent replay re-applies exactly the undone epochs through the
        normal idempotent path — "roll back the bad batch, fix, replay" is
        the reference's resume story inverted (exec/BulkLoader.java:584-659
        re-runs uncommitted tasks; rollback un-commits them).

        Refused when the target snapshot has been expired or any of its
        data files were collected (``cleanup_orphans`` after expiry)."""
        try:
            target = self.snapshot_at(version)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{version} does not exist (expired?) — "
                "cannot roll back past expire_snapshots"
            )
        missing = [
            f
            for f in sorted(self._referenced_files([target]))
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"snapshot v{version} references {len(missing)} collected "
                f"data file(s) (first: {missing[0]}) — unrecoverable after "
                "cleanup_orphans"
            )
        with self._commit_lock:
            while True:
                cur = self.current_snapshot()
                if cur["version"] == version:
                    return {"rolled_back_to": version, "noop": True}
                committed_at = time.time()
                new_snap = {
                    "version": cur["version"] + 1,
                    "epoch_id": None,
                    "committed_epochs": target["committed_epochs"],
                    "empty_epochs": target.get("empty_epochs", []),
                    "schema_v": target["schema_v"],
                    "schemas": target["schemas"],
                    "renames": target["renames"],
                    "drops": target.get("drops", []),
                    "base": target["base"],
                    "base_rows": target["base_rows"],
                    "deltas": target["deltas"],
                    # the sketch is monotone state: it rolls back with the
                    # epoch set and re-merges when the epochs replay
                    "url_hll": target.get("url_hll") or {},
                    # properties are CURRENT-state config, not data state:
                    # a rollback restores rows, not knobs
                    "properties": cur.get("properties") or {},
                    "metrics": {
                        "op": "rollback",
                        "to_version": version,
                        "committed_at": committed_at,
                    },
                    "lineage": [],
                    "committed_at": committed_at,
                }
                try:
                    _atomic_create_json(
                        self._snap_path(new_snap["version"]), new_snap
                    )
                    return {
                        "rolled_back_to": version,
                        "new_version": new_snap["version"],
                        "uncommitted_epochs": sorted(
                            set(cur["committed_epochs"])
                            - set(target["committed_epochs"])
                        ),
                    }
                except FileExistsError:
                    continue  # concurrent commit took the version: rebase

    def bulk_import(
        self,
        source,
        epoch_id: int,
        *,
        extract: bool = True,
    ) -> dict:
        """Initial bulk load (Hudi bootstrap / Iceberg ``add_files`` — and
        the reference's one-shot bulk-load identity, EmbulkRunner's run
        path): a snapshot-shaped ``source`` (a DataFrame or a parquet
        path; duplicates per url resolved by the usual (warc_ts, seq)
        order) lands DIRECTLY as the hash-bucketed base in ONE distributed
        job — no per-event delta commits, no compaction debt, no replay.
        At 100 TB this is the difference between one bucketed write and
        10^10 events ground through the epoch machinery.

        Requires an EMPTY base (no prior base, no pending deltas): on a
        populated table new rows must reconcile against existing state,
        which is ``merge_epoch``'s job. Imported rows get ``seq`` 0 unless
        the source carries one, so any later change event outranks its
        imported baseline. ``op``/``is_deleted`` columns are honored
        (a changelog dump imports with its tombstones intact); other
        missing payload columns null-fill against the current schema.
        ``extract=True`` fills ``text`` from ``html`` (Arrow-batched UDF)
        where the source didn't provide it. Idempotent by ``epoch_id``
        through the same committed-epoch set as streaming commits."""
        t0 = time.perf_counter()
        snap = self.current_snapshot()
        if epoch_id in set(snap["committed_epochs"]):
            return {"epoch_id": epoch_id, "skipped_duplicate_epoch": True}
        if snap["base"] or snap["deltas"]:
            raise ValueError(
                "bulk_import requires an empty table (base and deltas); "
                "route incremental rows through merge_epoch"
            )
        approx_bytes = None
        if isinstance(source, str):
            total = 0
            for root, _dirs, fns in os.walk(source):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in fns if f.endswith(".parquet")
                )
            approx_bytes = total or None
            source = self.spark.read.parquet(source)
        cur = self.schema(snap)
        nb = self._nb(snap)
        df = source.filter(F.col("url").isNotNull())
        if "is_deleted" not in df.columns and "op" in df.columns:
            df = df.withColumn("is_deleted", F.col("op") == "D")
        if "seq" not in df.columns:
            df = df.withColumn("seq", F.lit(0).cast("long"))
        for field in cur.fields:
            if field.name not in df.columns:
                df = df.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        df = df.withColumn(
            "is_deleted", F.coalesce(F.col("is_deleted"), F.lit(False))
        )
        df = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in cur.fields]
        )
        merged = dedup_latest(df)
        if extract and "html" in merged.columns and "text" in merged.columns:
            merged = merged.withColumn(
                "text",
                F.coalesce(F.col("text"), extract_text(F.col("html"))),
            )
        merged = merged.withColumn("bkt", bucket_of(F.col("url"), nb))
        new_base, total_rows = self._write_bucketed_base(
            merged, snap, nb, "import", approx_bytes=approx_bytes
        )
        hll_regs = None
        if self.url_hll:
            from ..operators.sketch import hll_sketch

            files = [f for e in new_base.values() for f in e["files"]]
            urls = self.spark.read.parquet(
                *[os.path.join(self.path, f) for f in files]
            ).select("url")
            hll_regs = {
                str(r["bucket"]): int(r["rho"])
                for r in hll_sketch(urls, "url", []).collect()
            }
        lineage = [
            {"bucket": int(b), "rows": e["rows"], "files": len(e["files"])}
            for b, e in sorted(
                new_base.items(), key=lambda kv: int(kv[0])
            )
        ]
        metrics = {
            "import": True,
            "epoch_id": epoch_id,
            "rows_imported": total_rows,
            "base_files": sum(len(e["files"]) for e in new_base.values()),
            "bytes_written": self._entry_bytes(new_base.values()),
            "seconds": round(time.perf_counter() - t0, 3),
        }
        return self._commit(
            snap, epoch_id, metrics=metrics, lineage=lineage,
            new_base=new_base, new_base_rows=total_rows,
            expect_base_of=snap, expect_nb=nb, hll_regs=hll_regs,
        )

    def clone_to(self, dest_path: str, *, version: int | None = None) -> dict:
        """Zero-copy shallow clone (Delta ``SHALLOW CLONE`` / Iceberg
        snapshot-ref table): materialize an INDEPENDENT table at
        ``dest_path`` whose v0 snapshot carries this table's state at
        ``version`` (default: current). Data files and stats-manifest
        sidecars are HARD-LINKED, not copied — O(files) metadata ops,
        zero data bytes moved — and because a hard link pins the inode,
        the clone survives the source's ``cleanup_orphans``/compaction
        (Delta's documented vacuum-breaks-clones hazard doesn't apply;
        blocks free only when BOTH tables drop the file). Cross-device
        destinations degrade to a copy per file.

        The clone keeps ``committed_epochs`` (duplicate-delivery
        protection carries over: replaying the source's stream against
        the clone skips already-applied epochs), schema history, bucket
        layout, and the url HLL; it starts with fresh history (no tags,
        branches, staged epochs, or old snapshots). Writes to either
        table never affect the other — dev/test sandboxes over a
        production lake for the price of the metadata. On an object
        store, implement with absolute-URI manifests instead; the posix
        form expresses the same O(metadata) contract."""
        snap = (
            self.snapshot_at(version) if version is not None
            else self.current_snapshot()
        )
        dest_path = os.path.abspath(dest_path)
        if os.path.abspath(self.path) == dest_path:
            raise ValueError("clone destination is the table itself")
        dest_snap_dir = os.path.join(dest_path, "snapshots")
        if os.path.isdir(dest_snap_dir) and any(
            f.endswith(".json") for f in os.listdir(dest_snap_dir)
        ):
            raise ValueError(
                f"{dest_path} is already a table — clone needs a fresh dir"
            )
        refs = sorted(self._referenced_files([snap]))
        missing = [
            f for f in refs
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"snapshot v{snap['version']} references {len(missing)} "
                f"collected data file(s) (first: {missing[0]}) — "
                "unrecoverable after cleanup_orphans"
            )
        groups = list(snap["base"].values()) + list(snap["deltas"])
        refs += sorted(
            {g["stats_ref"] for g in groups if g.get("stats_ref")}
        )
        os.makedirs(dest_snap_dir, exist_ok=True)
        bytes_shared, copied = 0, 0
        for rel in refs:
            src = os.path.join(self.path, rel)
            dst = os.path.join(dest_path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except FileExistsError:
                pass  # rerun after a partial clone crash: same content
            except OSError:
                import shutil

                shutil.copy2(src, dst)  # cross-device: degrade to copy
                copied += 1
            bytes_shared += os.path.getsize(src)
        committed_at = time.time()
        clone_snap = {
            "version": 0,
            "epoch_id": None,
            "committed_epochs": snap["committed_epochs"],
            "empty_epochs": snap.get("empty_epochs", []),
            "schema_v": snap["schema_v"],
            "schemas": snap["schemas"],
            "renames": snap["renames"],
            "drops": snap.get("drops", []),
            "n_buckets": self._nb(snap),
            "base": snap["base"],
            "base_rows": snap["base_rows"],
            "deltas": snap["deltas"],
            "url_hll": snap.get("url_hll") or {},
            "properties": snap.get("properties") or {},
            "metrics": {
                "clone": True,
                "cloned_from": os.path.abspath(self.path),
                "clone_source_version": snap["version"],
                "committed_at": committed_at,
            },
            "lineage": [],
            "committed_at": committed_at,
        }
        try:
            _atomic_create_json(
                os.path.join(dest_snap_dir, "v00000000.json"), clone_snap
            )
        except FileExistsError:
            raise ValueError(
                f"{dest_path} gained a snapshot mid-clone — clone needs a "
                "fresh dir"
            )
        return {
            "cloned_to": dest_path,
            "clone_source_version": snap["version"],
            "files_linked": len(refs) - copied,
            "files_copied": copied,
            "bytes_shared": bytes_shared,
        }

    def verify_against_events(
        self, events: DataFrame, *, extract: bool = True
    ) -> dict:
        """Anti-entropy check: recompute the expected final state from the
        RAW event log (one batch dedup + extraction — deliberately not
        the replay path's per-epoch machinery) and diff it against
        ``published()``. Returns mismatch counts; 0/0/0 certifies the
        epoch-commit/resume/compaction/rebucket pipeline reproduced the
        log exactly. O(log + table) — a maintenance job, not a hot path;
        text comparison is by md5 so the join carries digests, not
        documents."""
        data = events.filter(F.col("op") != "S")
        latest = dedup_latest(
            data.select("url", "warc_ts", "seq", "op", "html", "lang")
        )
        expect = latest.filter(F.col("op") != "D").select(
            "url", "seq",
            F.md5(
                extract_text(F.col("html")).cast("binary")
            ).alias("_txt") if extract else F.lit(None).alias("_txt"),
        )
        got = self.published().select(
            "url", "seq",
            F.md5(F.col("text").cast("binary")).alias("_txt")
            if extract else F.lit(None).alias("_txt"),
        )
        j = expect.alias("e").join(got.alias("g"), "url", "full")
        report = j.agg(
            F.sum(F.when(F.col("g.seq").isNull(), 1).otherwise(0)).alias("missing"),
            F.sum(F.when(F.col("e.seq").isNull(), 1).otherwise(0)).alias("extra"),
            F.sum(
                F.when(
                    F.col("e.seq").isNotNull() & F.col("g.seq").isNotNull()
                    & (
                        (F.col("e.seq") != F.col("g.seq"))
                        | ~F.col("e._txt").eqNullSafe(F.col("g._txt"))
                    ),
                    1,
                ).otherwise(0)
            ).alias("mismatched"),
            F.count(F.lit(1)).alias("urls_checked"),
        ).collect()[0]
        out = {k: int(report[k] or 0) for k in
               ("missing", "extra", "mismatched", "urls_checked")}
        out["ok"] = not (out["missing"] or out["extra"] or out["mismatched"])
        return out

    # ------------------------------------------------------------------
    # tags: immutable named snapshot refs (Iceberg tag refs)
    # ------------------------------------------------------------------

    def _tags_dir(self) -> str:
        d = os.path.join(self.path, "tags")
        os.makedirs(d, exist_ok=True)
        return d

    def tag(self, name: str, version: int | None = None) -> dict:
        """Pin a snapshot under an immutable name (audit/release refs:
        ``prod-2026-08``, ``eval-corpus-v3``). Tagged snapshots survive
        ``expire_snapshots``, so their data files stay live for
        ``cleanup_orphans`` — a tag is a retention lease, exactly
        Iceberg's tag-ref semantics. Create-exclusive: re-tagging an
        existing name raises (drop it first); tags never move."""
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        v = int(version) if version is not None \
            else self.current_snapshot()["version"]
        if not os.path.exists(self._snap_path(v)):
            raise ValueError(f"snapshot v{v} does not exist (expired?)")
        _atomic_create_json(
            os.path.join(self._tags_dir(), f"{name}.json"),
            {"name": name, "version": v, "created_at": time.time()},
        )
        return {"tag": name, "version": v}

    def tags(self) -> dict[str, int]:
        out = {}
        for fn in sorted(os.listdir(self._tags_dir())):
            if fn.endswith(".json"):
                with open(os.path.join(self._tags_dir(), fn)) as f:
                    t = json.load(f)
                out[t["name"]] = int(t["version"])
        return out

    def drop_tag(self, name: str) -> dict:
        p = os.path.join(self._tags_dir(), f"{name}.json")
        existed = os.path.exists(p)
        if existed:
            os.remove(p)
        return {"tag": name, "dropped": existed}

    def read_tag(self, name: str) -> DataFrame:
        """Time-travel read by tag name (published rows, tombstones
        filtered) — the named-release read path."""
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"unknown tag {name!r} (have {sorted(tags)})")
        return self.published(version=tags[name])

    def version_as_of(self, ts) -> int:
        """Newest snapshot version whose commit wall-clock is ≤ ``ts``
        (Iceberg's TIMESTAMP AS OF). ``ts`` is epoch seconds or a
        datetime (naive = UTC). Driver-side metadata walk over the
        snapshot log — O(retained snapshots), no data IO. Resolution is
        by max qualifying VERSION, not max committed_at, so a wall-clock
        step backwards between commits (NTP) can't make time travel
        non-monotone; snapshots missing a clock (pre-feature files)
        count as always-eligible. Raises if ``ts`` precedes the first
        retained commit — expired history is a hard error, not a silent
        older-state read."""
        if isinstance(ts, datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            ts = ts.timestamp()
        # compare in whole microseconds WITH 1µs tolerance: datetime
        # carries µs resolution and fromtimestamp(t).timestamp() lands
        # exactly 1µs BELOW round(t·1e6) for ~6% of floats (measured —
        # double→µs rounding happens twice with different intermediates),
        # so a user passing the printed commit instant back through the
        # ISO form would otherwise resolve to the PRIOR version. A fixed
        # +1µs slop absorbs every such round trip; no real commit
        # cadence is µs-adjacent.
        ts_us = round(float(ts) * 1e6) + 1
        best = None
        for fn in self._snapshot_files():
            with open(os.path.join(self._snap_dir, fn)) as f:
                snap = json.load(f)
            if round(float(snap.get("committed_at", 0.0)) * 1e6) <= ts_us:
                v = int(snap["version"])
                best = v if best is None else max(best, v)
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before ts={ts} "
                "(history expired or table younger than ts)"
            )
        return best

    def read_as_of(self, ts) -> DataFrame:
        """Published rows as of a wall-clock instant (timestamp time
        travel): ``published(version=version_as_of(ts))`` — the
        audit/debug read path ("what did the table serve at 14:02?")."""
        return self.published(version=self.version_as_of(ts))

    # ------------------------------------------------------------------
    # branches: named mutable refs + fast-forward publish (Iceberg
    # branch semantics — the multi-epoch generalization of WAP)
    # ------------------------------------------------------------------

    def _branches_dir(self) -> str:
        return os.path.join(self.path, "branches")

    def create_branch(
        self, name: str, *, at_version: int | None = None,
        if_not_exists: bool = False,
    ) -> dict:
        """Fork a branch from this ref's snapshot ``at_version`` (default:
        current head). The branch is an independent snapshot namespace
        sharing the table's data files — open it with
        ``ParquetLakeTable(spark, path, ref=name)`` (or :meth:`branch`)
        and replay/compact/stage on it exactly like main; main's readers
        never see it until :meth:`fast_forward`. Use cases: multi-epoch
        backfill audited as a whole, schema-migration rehearsal, an
        always-auditable staging lane (Iceberg's audit-branch workflow).

        Crash-safe: the seed snapshot writes FIRST, ``BRANCH.json`` is
        the create-exclusive commit point last — a crash in between
        leaves an invisible torn dir (``branches()`` ignores dirs with
        no BRANCH.json) that a redelivery completes. An existing name
        raises; ``if_not_exists=True`` skips instead (the redelivery
        contract for at-least-once admin pipelines — CREATE BRANCH IF
        NOT EXISTS)."""
        if not name or name == "main" or "/" in name or name.startswith("."):
            raise ValueError(f"invalid branch name {name!r}")
        bdir = os.path.join(self._branches_dir(), name)
        if os.path.exists(os.path.join(bdir, "BRANCH.json")):
            if if_not_exists:
                with open(os.path.join(bdir, "BRANCH.json")) as f:
                    meta = json.load(f)
                return {
                    "branch": name,
                    "fork_version": meta.get("fork_version"),
                    "skipped_existing": True,
                }
            raise ValueError(f"branch {name!r} already exists")
        snap = (
            self.snapshot_at(at_version) if at_version is not None
            else self.current_snapshot()
        )
        sdir = os.path.join(bdir, "snapshots")
        os.makedirs(sdir, exist_ok=True)
        # seed first: the fork snapshot, verbatim (snapshots are self-
        # contained manifests, so the branch never reads main's snapshot
        # dir again). Idempotent under redelivery: a leftover seed from
        # a crashed attempt is the same immutable content.
        try:
            _atomic_create_json(
                os.path.join(sdir, f"v{snap['version']:08d}.json"), snap
            )
        except FileExistsError:
            pass
        # a redelivery after a crash between seed write and BRANCH.json
        # may pick a DIFFERENT fork snapshot (head advanced, or a lower
        # explicit at_version): the prior attempt's seed would then be
        # the max-version file and branches()/fast_forward would take it
        # as the head, diverging from fork_version. Drop every seed that
        # is not the chosen fork BEFORE committing BRANCH.json (the dir
        # is invisible until BRANCH.json exists, so this is safe).
        for f in os.listdir(sdir):
            if (
                f.startswith("v")
                and f.endswith(".json")
                and f != f"v{snap['version']:08d}.json"
            ):
                os.unlink(os.path.join(sdir, f))
        meta = {
            "name": name,
            "fork_ref": self.ref,
            "fork_version": snap["version"],
            "created_at": time.time(),
        }
        _atomic_create_json(os.path.join(bdir, "BRANCH.json"), meta)
        return {"branch": name, "fork_version": snap["version"]}

    def branch(self, name: str):
        """A handle committing to branch ``name`` (same table dir) —
        constructed as ``type(self)`` so the mixin needs no import of
        the concrete table class (avoids the lake↔lake_admin cycle)."""
        return type(self)(
            self.spark, self.path,
            compact_min_deltas=self.compact_min_deltas,
            compact_ratio=self.compact_ratio,
            compact_mode=self.compact_mode,
            url_hll=self.url_hll, ref=name,
            feed_retain_epochs=self._feed_retain_epochs,
        )

    def branches(self) -> dict[str, dict]:
        """name → {fork_version, head_version} for every branch ref."""
        bd = self._branches_dir()
        out: dict[str, dict] = {}
        if not os.path.isdir(bd):
            return out
        for n in sorted(os.listdir(bd)):
            mp = os.path.join(bd, n, "BRANCH.json")
            sdir = os.path.join(bd, n, "snapshots")
            if not os.path.exists(mp):
                continue
            with open(mp) as f:
                meta = json.load(f)
            heads = sorted(
                f for f in os.listdir(sdir)
                if f.startswith("v") and f.endswith(".json")
            ) if os.path.isdir(sdir) else []
            out[n] = {
                "fork_version": int(meta["fork_version"]),
                "head_version": int(heads[-1][1:9]) if heads else None,
            }
        return out

    def drop_branch(self, name: str) -> dict:
        """Delete a branch ref; its branch-only data files become
        cleanup_orphans() fodder."""
        bdir = os.path.join(self._branches_dir(), name)
        existed = os.path.isdir(bdir)
        if existed:
            shutil.rmtree(bdir)
        return {"branch": name, "dropped": existed}

    def fast_forward(self, name: str) -> dict:
        """Publish branch ``name``'s head as this ref's next snapshot —
        atomic, manifest-only (no data moves: the branch wrote its files
        into the shared data dir). Requires THIS ref to still be at the
        branch's fork version (the ancestor condition of Iceberg's
        fast_forward); if main advanced since the fork, raises
        CommitConflict — re-branch from the new head and replay the
        branch's epochs through the normal idempotent path."""
        bdir = os.path.join(self._branches_dir(), name)
        mp = os.path.join(bdir, "BRANCH.json")
        if not os.path.exists(mp):
            raise ValueError(f"unknown branch {name!r}")
        with open(mp) as f:
            meta = json.load(f)
        sdir = os.path.join(bdir, "snapshots")
        heads = sorted(
            f for f in os.listdir(sdir)
            if f.startswith("v") and f.endswith(".json")
        )
        with open(os.path.join(sdir, heads[-1])) as f:
            head = json.load(f)
        if head["version"] == meta["fork_version"]:
            return {"fast_forward": name, "noop": True}
        with self._commit_lock:
            while True:
                cur = self.current_snapshot()
                if cur["version"] != meta["fork_version"]:
                    # redelivery check BEFORE conflicting: a fast_forward
                    # that committed and crashed before returning must
                    # skip on redelivery, not refuse its own work — scan
                    # the ref's history since the fork for the adoption
                    # record of exactly this branch head
                    for v in range(
                        meta["fork_version"] + 1, cur["version"] + 1
                    ):
                        try:
                            m = (
                                self.snapshot_at(v).get("metrics") or {}
                            )
                        except (OSError, ValueError, KeyError):
                            continue
                        if (
                            m.get("fast_forward") == name
                            and m.get("from_branch_version")
                            == head["version"]
                        ):
                            return {
                                "fast_forward": name,
                                "version": v,
                                "skipped_duplicate": True,
                            }
                    raise CommitConflict(
                        f"{self.ref} advanced past the fork point "
                        f"(v{meta['fork_version']} → v{cur['version']}) — "
                        f"re-branch and replay the branch's epochs"
                    )
                new = dict(head)
                new["version"] = cur["version"] + 1
                adopted = sorted(
                    set(head["committed_epochs"])
                    - set(cur["committed_epochs"])
                )
                new["metrics"] = {
                    "fast_forward": name,
                    "from_branch_version": head["version"],
                    "committed_at": time.time(),
                }
                new["committed_at"] = time.time()
                try:
                    _atomic_create_json(self._snap_path(new["version"]), new)
                    return {
                        "fast_forward": name,
                        "version": new["version"],
                        "epochs_adopted": adopted,
                    }
                except FileExistsError:
                    continue  # racer took the version; recheck ancestor

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Retain only the newest ``keep_last`` snapshots plus every
        TAGGED snapshot; data files referenced solely by expired
        snapshots become orphans (collect them with ``cleanup_orphans``).
        Mirrors Iceberg's expire_snapshots maintenance action with
        tag-ref retention."""
        files = self._snapshot_files()
        pinned = {f"v{v:08d}.json" for v in self.tags().values()}
        candidates = files[:-keep_last] if keep_last > 0 else []
        to_drop = [f for f in candidates if f not in pinned]
        for f in to_drop:
            os.remove(os.path.join(self._snap_dir, f))
        return {"snapshots_expired": len(to_drop),
                "snapshots_retained": len(files) - len(to_drop),
                "snapshots_pinned_by_tags": len(pinned & set(candidates))}
