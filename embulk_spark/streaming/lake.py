"""Snapshot-versioned lakehouse table with idempotent epoch commits —
the exactly-once CDC sink, **merge-on-read** edition.

Design (each point with its reference citation):

- **Atomic all-or-nothing commit per micro-batch**: data files land under a
  new version directory first; the commit is one atomic rename of the
  snapshot manifest. A crash before the rename leaves the previous snapshot
  visible (orphan files, no state change) — Embulk's commit gate: a run
  fails unless all tasks committed (exec/BulkLoader.java:541-548,692-700).
- **Idempotent epoch commits**: every snapshot records the set of committed
  epoch ids; re-delivering a committed epoch is a no-op — "output tasks may
  be committed … as long as output plugin is atomic and idempotent"
  (exec/BulkLoader.java:154-159) and the resume contract that re-runs only
  tasks without committed reports (exec/BulkLoader.java:584-690).
- **Merge-on-read, not copy-on-write**: an epoch writes ONLY its deduped
  change-set as a *delta* file group — no target read, no join, no table
  rewrite. IO per micro-batch is O(change-set); a copy-on-write MERGE would
  be O(touched table), which at the 10^10-event design point means every
  batch rewrites terabytes. Reads reconstruct current state as
  ``latest (warc_ts, seq) per url over base ∪ deltas`` — a hash agg with
  map-side partial combine, the same skew-proof shape as the in-batch dedup
  (see operators/merge.py). This is the Hudi/Iceberg MOR pattern expressed
  in plain DataFrame ops.
- **Compaction** folds deltas into the hash-bucketed base when they pile up
  (ratio/areas below). Base files are bucketed by ``xxhash64(url) % n``, so
  a compaction — and any key-targeted read — prunes to the touched buckets.
  Deltas are range-clustered by bucket, so parquet row-group min/max stats
  prune them too. Tombstones (deletes) survive compaction — a late older
  update must stay dead — but can be expired past a watermark
  (``tombstone_retention_ts``) once late data is impossible.
- **Schema evolution** (add / rename / widen): schema versions live in the
  manifest; files are never rewritten for a schema change — reads normalize
  each file group from its write-time schema to the current one (rename map
  + null-fill + cast), widening per the reference's guess lattice
  (embulk-ruby/lib/embulk/guess/schema_guess.rb:112-128), mirroring
  Embulk's between-runs re-guess + ConfigDiff merge
  (exec/GuessExecutor.java:142-195).
- **Lineage & metrics per commit**: per-bucket key/event/delete counts are
  aggregated from the just-written delta files with a column-pruned scan
  (bkt/_n_events/is_deleted only — a few bytes per row); file/byte counts
  come from parquet footers. Embulk's TaskReport analogue
  (exec/BulkLoader.java:121-152).

When Iceberg jars are on the classpath the same protocol maps onto Iceberg
snapshots (epoch id in the snapshot summary); see ``iceberg.py``. This
parquet backend is the default where the jars are absent and is what the
test suite runs against.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import extract_text
from ..operators.merge import (
    TARGET_COLUMNS,
    bucket_of,
    changes_to_target_rows,
    dedup_latest,
)

TARGET_DDL = (
    "url STRING, warc_ts TIMESTAMP, seq BIGINT, html BINARY, "
    "text STRING, lang STRING, is_deleted BOOLEAN"
)

#: type-widening lattice (schema_guess.rb:112-128): pairs that merge to a
#: wider type; anything else widens to string.
WIDEN_LATTICE = {
    ("long", "double"): "double",
    ("double", "long"): "double",
    ("boolean", "long"): "long",
    ("long", "boolean"): "long",
    ("timestamp", "long"): "long",
    ("long", "timestamp"): "long",
}



from .lake_util import (  # noqa: F401  (re-exported public surface)
    CommitConflict,
    _atomic_create_json,
    _ddl_of,
    heal_swap_leftovers,
    is_swap_leftover,
    recover_dir_swap,
    rewrite_dir_excluding,
    swap_leftover_base,
)
from .lake_scan import ScanPlanMixin
from .lake_compact import CompactionMixin
from .lake_admin import MaintenanceMixin

class ParquetLakeTable(ScanPlanMixin, CompactionMixin, MaintenanceMixin):
    """Merge-on-read snapshot table over local/posix parquet.

    ``compact_min_deltas`` / ``compact_ratio``: a commit triggers compaction
    when at least ``compact_min_deltas`` delta groups exist AND their total
    rows exceed ``compact_ratio ×`` base rows — amortized O(log) rewrites of
    any row, like LSM leveling."""

    #: Physical-behavior properties persisted in the manifest (Iceberg
    #: TBLPROPERTIES): recorded at table creation, adopted by handles
    #: that don't explicitly override, updated via :meth:`set_properties`.
    #: Without persistence a second handle opened with bare defaults
    #: silently changes the table's physical story (un-clustered folds,
    #: stats-less writes) — the same foot-gun n_buckets already guards.
    PROPERTY_DEFAULTS: dict = {
        "compact_min_deltas": 8,
        "compact_ratio": 1.0,
        "compact_mode": "full",
        "url_hll": False,
        "feed_retain_epochs": None,
        "stats_columns": (),
        "sort_columns": (),
        "cluster_mode": "range",
        "key_bloom": False,
        "target_file_bytes": None,
    }

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        schema_ddl: str = TARGET_DDL,
        compact_min_deltas: int | None = None,
        compact_ratio: float | None = None,
        compact_mode: str | None = None,
        url_hll: bool | None = None,
        ref: str = "main",
        feed_retain_epochs: int | None = None,
        stats_columns: tuple[str, ...] | list[str] | None = None,
        sort_columns: tuple[str, ...] | list[str] | None = None,
        cluster_mode: str | None = None,
        key_bloom: bool | None = None,
        target_file_bytes: int | None = None,
    ) -> None:
        # property resolution happens after the snapshot is known (args
        # override; table-recorded properties fill; defaults last) — the
        # explicit args are kept aside until then
        prop_args = {
            "compact_min_deltas": compact_min_deltas,
            "compact_ratio": compact_ratio,
            "compact_mode": compact_mode,
            "url_hll": url_hll,
            "feed_retain_epochs": feed_retain_epochs,
            "stats_columns": stats_columns,
            "sort_columns": sort_columns,
            "cluster_mode": cluster_mode,
            "key_bloom": key_bloom,
            "target_file_bytes": target_file_bytes,
        }
        if ref != "main" and (not ref or "/" in ref or ref.startswith(".")):
            raise ValueError(f"invalid branch name {ref!r}")
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_buckets = n_buckets
        #: cache of loaded stats manifests (group_stats) — safe because a
        #: manifest file is immutable once written (uuid-named,
        #: create-exclusive): a ref never changes meaning.
        self._manifest_cache: dict[str, dict] = {}
        #: which ref this handle commits to. "main" is the table itself;
        #: any other name is a BRANCH (Iceberg branch refs): an
        #: independent snapshot+staged namespace under branches/<name>/
        #: sharing the table's data directory — commits, compaction, WAP,
        #: replay all work unchanged on a branch handle, invisible to
        #: main's readers until fast_forward() publishes the head.
        self.ref = ref
        ref_root = (
            self.path if ref == "main"
            else os.path.join(self.path, "branches", ref)
        )
        self._snap_dir = os.path.join(ref_root, "snapshots")
        self._data_dir = os.path.join(self.path, "data")
        # write-audit-publish: staged (invisible) epoch manifests live here
        self._staged_dir = os.path.join(ref_root, "staged")
        # serializes snapshot commits for concurrent (pipelined) epochs in
        # this process; cross-process safety comes from the atomic rename
        # (optimistic concurrency, like Iceberg's commit retry)
        self._commit_lock = threading.Lock()
        # at most one compaction at a time; contenders skip, not queue
        self._compact_lock = threading.Lock()
        os.makedirs(self._snap_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)
        os.makedirs(self._staged_dir, exist_ok=True)
        if ref != "main" and self.current_snapshot() is None:
            raise ValueError(
                f"branch {ref!r} does not exist — create it from a main "
                f"handle with create_branch({ref!r}) first"
            )
        if self.current_snapshot() is None:
            snap = {
                "version": 0,
                "epoch_id": None,
                "committed_epochs": [],
                "empty_epochs": [],
                "schema_v": 0,
                "schemas": {"0": schema_ddl},
                "renames": [],
                "drops": [],
                "n_buckets": n_buckets,
                "base": {},
                "base_rows": 0,
                "deltas": [],
                "metrics": {},
                "lineage": [],
                "committed_at": time.time(),
                # TBLPROPERTIES: physical-behavior knobs recorded at
                # creation so every later default-open behaves the same
                "properties": self._jsonable_props({
                    k: (prop_args[k] if prop_args[k] is not None else d)
                    for k, d in self.PROPERTY_DEFAULTS.items()
                }),
            }
            try:
                _atomic_create_json(self._snap_path(0), snap)
            except FileExistsError:
                pass  # another process bootstrapped the table first
        # the manifest is authoritative for the physical layout: the ctor
        # arg only seeds table CREATION. A second handle opened with a
        # different n_buckets default must not mis-prune lookups or write
        # mis-bucketed deltas — it adopts the table's recorded value
        # (every data-placement op re-reads it from its captured snapshot,
        # so even a concurrent rebucket can't skew this handle).
        cur = self.current_snapshot()
        self.n_buckets = self._nb(cur)
        # properties: explicit ctor args override (handle-local, like a
        # session conf); the table's recorded properties fill the rest;
        # pre-properties tables fall back to the legacy defaults. Commit
        # durable changes with set_properties().
        stored = cur.get("properties") or {}
        self._apply_properties({
            k: (
                prop_args[k]
                if prop_args[k] is not None
                else stored.get(k, d)
            )
            for k, d in self.PROPERTY_DEFAULTS.items()
        })
        if self.cluster_mode == "zorder" and len(self.sort_columns) >= 2:
            # fail FAST on an unquantizable zorder layout: without this,
            # a bad sort column only surfaces when auto-maintenance first
            # folds — hours into ingest — and every later compaction
            # repeats the failure. Validates against the live snapshot
            # schema (covers evolved columns); columns added later
            # re-validate in add_column.
            from .zorder import validate_zorder_columns

            validate_zorder_columns(self.schema(), self.sort_columns)

    # ------------------------------------------------------------------
    # table properties (Iceberg TBLPROPERTIES)
    # ------------------------------------------------------------------

    @staticmethod
    def _jsonable_props(props: dict) -> dict:
        return {
            k: (list(v) if isinstance(v, tuple) else v)
            for k, v in props.items()
        }

    def _apply_properties(self, props: dict) -> None:
        """Validate and bind the resolved property set to this handle.

        The knobs (all recorded in the snapshot's ``properties``):
        ``url_hll`` — cumulative distinct-url HLL per commit (one extra
        O(change-set) url-only scan); ``stats_columns`` — per-file
        min/max/null manifest stats driving scan_where data skipping;
        ``sort_columns`` + ``cluster_mode`` ('range' lexicographic |
        'zorder' Morton) — compaction write clustering; ``key_bloom`` —
        per-file merge-key blooms for driver-side point-lookup pruning;
        ``target_file_bytes`` — bytes-proportional fold output sizing;
        ``compact_min_deltas``/``compact_ratio``/``compact_mode``
        ('full' | 'hot') — auto-maintenance triggers;
        ``feed_retain_epochs`` — newest epochs auto-folds must keep
        feed-servable (None = compact_min_deltas; 0 disables)."""
        if props["cluster_mode"] not in ("range", "zorder"):
            raise ValueError(
                "cluster_mode must be 'range' or 'zorder', got "
                f"{props['cluster_mode']!r}"
            )
        if props["compact_mode"] not in ("full", "hot"):
            raise ValueError(
                f"compact_mode must be 'full' or 'hot', got "
                f"{props['compact_mode']!r}"
            )
        fre = props["feed_retain_epochs"]
        if fre is not None and int(fre) < 0:
            raise ValueError("feed_retain_epochs must be >= 0")
        self.url_hll = bool(props["url_hll"])
        self.compact_min_deltas = int(props["compact_min_deltas"])
        self.compact_ratio = float(props["compact_ratio"])
        self.compact_mode = props["compact_mode"]
        self.stats_columns = tuple(props["stats_columns"])
        self.sort_columns = tuple(props["sort_columns"])
        self.cluster_mode = props["cluster_mode"]
        self.target_file_bytes = (
            None if props["target_file_bytes"] is None
            else int(props["target_file_bytes"])
        )
        self.key_bloom = bool(props["key_bloom"])
        self._feed_retain_epochs = None if fre is None else int(fre)

    def properties(self) -> dict:
        """The table's recorded properties (current snapshot; legacy
        defaults fill keys predating the properties manifest)."""
        stored = (self.current_snapshot() or {}).get("properties") or {}
        out = {}
        for k, d in self.PROPERTY_DEFAULTS.items():
            v = stored.get(k, d)
            out[k] = tuple(v) if isinstance(d, tuple) else v
        return out

    def set_properties(self, **props) -> dict:
        """Durably change table properties (ALTER TABLE SET
        TBLPROPERTIES): one metadata-only snapshot commit; handles opened
        with defaults afterwards adopt the new values (THIS handle adopts
        immediately). Unknown keys are rejected. Rebases like any commit
        — concurrent epochs keep their deltas; concurrent set_properties
        last-writer-wins per key."""
        unknown = set(props) - set(self.PROPERTY_DEFAULTS)
        if unknown:
            raise ValueError(f"unknown table properties: {sorted(unknown)}")
        merged = dict(self.properties(), **props)
        self._apply_properties(dict(merged))  # validates + binds locally
        if self.cluster_mode == "zorder" and len(self.sort_columns) >= 2:
            from .zorder import validate_zorder_columns

            validate_zorder_columns(self.schema(), self.sort_columns)
        snap = self.current_snapshot()
        out = self._commit(
            snap, None,
            metrics={"op": "set_properties",
                     "changed": sorted(props)},
            lineage=[],
            properties=self._jsonable_props(merged),
        )
        return out

    # ------------------------------------------------------------------
    # snapshot bookkeeping
    # ------------------------------------------------------------------

    def _nb(self, snap: dict) -> int:
        """The snapshot's bucket count (manifest-authoritative; pre-
        evolution manifests fall back to the handle's creation value)."""
        return int(snap.get("n_buckets", self.n_buckets))

    def _snap_path(self, version: int) -> str:
        return os.path.join(self._snap_dir, f"v{version:08d}.json")

    def current_snapshot(self) -> dict | None:
        snaps = self._snapshot_files()
        if not snaps:
            return None
        with open(os.path.join(self._snap_dir, snaps[-1])) as f:
            return json.load(f)

    def _snapshot_files(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self._snap_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def snapshot_at(self, version: int) -> dict:
        """Load a specific snapshot version (time travel)."""
        with open(self._snap_path(version)) as f:
            return json.load(f)

    def committed_epochs(self) -> set[int]:
        snap = self.current_snapshot()
        return set(snap["committed_epochs"]) if snap else set()

    def epoch_delta_paths(
        self,
        epoch: int,
        *,
        delta_dir: str | None = None,
        version: int | None = None,
    ) -> list[str]:
        """The files holding committed epoch ``epoch``'s change-set — the
        one lookup every lake follower (operators/incremental.py::
        EpochDeltas, sinks/corpus.py::CorpusExport) syncs from.
        ``delta_dir`` (from the commit metrics) is returned as is;
        otherwise the delta groups of snapshot ``version`` (default: the
        current one) tagged with the epoch. ``[]`` means the epoch was
        committed empty. Raises when the epoch's files are gone from the
        snapshot — folded by compaction, or never committed — so a
        follower never commits a lost epoch as empty."""
        if delta_dir is not None:
            return [os.path.join(self.path, delta_dir)]
        snap = self.current_snapshot() if version is None \
            else self.snapshot_at(version)
        files = [
            f
            for g in (snap["deltas"] if snap else [])
            if g.get("epoch_id") == epoch
            for f in g["files"]
        ]
        if files:
            return [os.path.join(self.path, f) for f in files]
        if epoch in self._empty_epochs(snap):
            return []
        raise ValueError(
            f"epoch {epoch} has no delta files in the snapshot (already "
            "compacted?) — rebuild the follower with a batch pass"
        )

    def metrics_history(self) -> list[dict]:
        """Every retained snapshot's commit metrics in version order —
        the monitoring feed (rows/dedup/watermark-lag per commit,
        compactions, schema changes, rollbacks). Manifest-only: no data
        files touched. Feed it to ``spark.createDataFrame`` for the
        rollup queries (metrics_rollup shape) or ship it to a metrics
        sink."""
        out = []
        for fn in self._snapshot_files():
            snap = self.snapshot_at(int(fn[1:9]))
            m = dict(snap.get("metrics") or {})
            m["snapshot_version"] = snap["version"]
            out.append(m)
        return out

    def lineage_history(self) -> list[dict]:
        """Per-bucket lineage records of every retained commit (the
        TaskReport analogue, reference exec/BulkLoader.java:121-152),
        flattened with their snapshot version and epoch."""
        out = []
        for fn in self._snapshot_files():
            snap = self.snapshot_at(int(fn[1:9]))
            for rec in snap.get("lineage") or []:
                out.append(dict(rec, snapshot_version=snap["version"],
                                epoch_id=snap.get("epoch_id")))
        return out

    def files(self, *, version: int | None = None) -> list[dict]:
        """Per-file metadata of a snapshot (Iceberg's ``files`` metadata
        table): path, kind (base/delta), bucket, write-time schema_v,
        rows, bytes. Manifest + footer-free where possible — rows come
        from the manifest for base groups and delta groups; bytes from
        the filesystem. Drives ops tooling (small-file reports, skew
        inspection) without touching data contents."""
        snap = (
            self.snapshot_at(version) if version is not None
            else self.current_snapshot()
        )
        out = []
        for b, e in sorted(snap["base"].items(), key=lambda kv: int(kv[0])):
            st = self.group_stats(e) or {}
            for rel in e["files"]:
                fp = os.path.join(self.path, rel)
                out.append({
                    "path": rel, "kind": "base", "bucket": int(b),
                    "schema_v": int(e["schema_v"]),
                    "rows": None if len(e["files"]) > 1 else e.get("rows"),
                    "bytes": os.path.getsize(fp) if os.path.exists(fp) else None,
                    "stats": st.get(rel),
                })
        for d in snap["deltas"]:
            st = self.group_stats(d) or {}
            for rel in d["files"]:
                fp = os.path.join(self.path, rel)
                out.append({
                    "path": rel, "kind": "delta", "bucket": None,
                    "schema_v": int(d["schema_v"]),
                    "rows": None if len(d["files"]) > 1 else d.get("rows"),
                    "bytes": os.path.getsize(fp) if os.path.exists(fp) else None,
                    "stats": st.get(rel),
                })
        return out

    def url_cardinality(self, *, version: int | None = None) -> int | None:
        """Estimated distinct urls EVER ingested (deletes included) as of
        a snapshot, from the manifest-resident HLL — no data files
        touched. None until a ``url_hll=True`` handle has committed."""
        from ..operators.sketch import estimate_from_registers

        snap = (
            self.snapshot_at(version) if version is not None
            else self.current_snapshot()
        )
        regs = snap.get("url_hll") or {}
        return estimate_from_registers(regs) if regs else None

    def schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.current_snapshot()
        return T.StructType.fromDDL(snap["schemas"][str(snap["schema_v"])])

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------

    def _normalize(
        self, df: DataFrame, from_schema_v: int, snap: dict, cur: T.StructType
    ) -> DataFrame:
        """Write-time schema → current schema: renames AND drops after the
        file's version (applied interleaved in schema_v order — a rename
        into a previously-dropped name must not expose the dropped data),
        then null-fill + cast (the widen lattice guarantees casts are
        lossless). Drops give Iceberg's no-resurrection semantics without
        field ids: a column dropped at v and re-added later reads NULL
        from pre-drop files — their physical values stay hidden."""
        changes = sorted(
            [dict(r, _op="rename") for r in snap["renames"]]
            + [dict(d, _op="drop") for d in snap.get("drops", [])],
            key=lambda c: c["schema_v"],
        )
        for c in changes:
            if c["schema_v"] <= from_schema_v:
                continue
            if c["_op"] == "rename" and c["from"] in df.columns:
                df = df.withColumnRenamed(c["from"], c["to"])
            elif c["_op"] == "drop" and c["name"] in df.columns:
                df = df.drop(c["name"])
        cols = []
        for field in cur.fields:
            if field.name in df.columns:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        return df.select(*cols, F.col("bkt"))

    def _empty(self, cur: T.StructType) -> DataFrame:
        return self.spark.createDataFrame(
            [], T.StructType(cur.fields).add("bkt", T.IntegerType())
        )

    def _read_file_groups(
        self, snap: dict, groups: list[tuple[int, list[str]]]
    ) -> DataFrame | None:
        """Read (schema_v, files) groups, each normalized to the current
        schema. File paths are manifest-relative. Extra physical columns in
        a file (deltas carry ``_n_events``) are simply not selected."""
        cur = self.schema(snap)
        by_v: dict[int, list[str]] = {}
        for schema_v, files in groups:
            if files:
                by_v.setdefault(schema_v, []).extend(files)
        parts: list[DataFrame] = []
        for schema_v, files in sorted(by_v.items()):
            ddl = snap["schemas"][str(schema_v)]
            file_schema = T.StructType.fromDDL(ddl).add("bkt", T.IntegerType())
            df = self.spark.read.schema(file_schema).parquet(
                *[os.path.join(self.path, p) for p in files]
            )
            parts.append(self._normalize(df, schema_v, snap, cur))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _base_df(self, snap: dict, buckets: list[int] | None) -> DataFrame | None:
        want = set(buckets) if buckets is not None else None
        groups = [
            (int(e["schema_v"]), e["files"])
            for b, e in snap["base"].items()
            if want is None or int(b) in want
        ]
        return self._read_file_groups(snap, groups)

    def _delta_df(self, snap: dict, buckets: list[int] | None) -> DataFrame | None:
        groups = [(int(d["schema_v"]), d["files"]) for d in snap["deltas"]]
        df = self._read_file_groups(snap, groups)
        if df is not None and buckets is not None:
            # deltas are range-clustered by bkt → row-group stats prune this
            df = df.filter(F.col("bkt").isin([int(b) for b in buckets]))
        return df

    def read(
        self,
        buckets: list[int] | None = None,
        *,
        version: int | None = None,
        project: dict[str, Column] | None = None,
        keys: DataFrame | None = None,
    ) -> DataFrame:
        """Merged state including tombstones; ``buckets`` prunes;
        ``version`` time-travels to an older snapshot (files are
        immutable, so any un-expired snapshot reconstructs exactly).
        MOR reconstruction: latest (warc_ts, seq) per url over base∪deltas —
        a partial-combine agg, never a window sort (see operators/merge.py).

        ``project``: {name: Column} computed on the RAW rows BEFORE the
        dedup; the result then carries only url, the order columns,
        is_deleted, and the projected names. This is the derived-value
        fast path (e.g. snapshot_diff's content digest): the agg buffers
        hold the few projected bytes instead of full html/text payloads,
        and untouched payload columns prune out of the scan entirely —
        at 10^10 rows the difference between hashing a table and
        re-materializing one.

        ``keys``: a one-column ``url`` frame; rows restrict to those
        urls via a left-semi join applied to the RAW rows BEFORE the
        dedup (sound: the per-url winner among a url's own rows is the
        winner, period). This is the incremental-fold fast path
        (aggview): the max_by aggregation then runs over the keys' own
        version chains instead of the whole bucket slice, and Spark's
        runtime bloom-filter join injection can skip parquet row groups
        on the scan side — O(Δ-rows aggregated), not O(slice)."""
        snap = (
            self.snapshot_at(version) if version is not None
            else self.current_snapshot()
        )
        cur = self.schema(snap)
        base = self._base_df(snap, buckets)
        delta = self._delta_df(snap, buckets)
        if keys is not None:
            kdf = keys.select("url").distinct()
            if base is not None:
                base = base.join(kdf, "url", "left_semi")
            if delta is not None:
                delta = delta.join(kdf, "url", "left_semi")
        if project is not None:
            keep = [F.col("url"), F.col("warc_ts"), F.col("seq"),
                    F.col("is_deleted")]
            exprs = [e.alias(n) for n, e in project.items()]

            def _slim(df: DataFrame) -> DataFrame:
                return df.select(*keep, *exprs)

            base = _slim(base) if base is not None else None
            delta = _slim(delta) if delta is not None else None
            if base is None and delta is None:
                return _slim(self._empty(cur))
        if base is None and delta is None:
            return self._empty(cur)
        if delta is None:
            return base  # base is already one row per url
        both = delta if base is None else base.unionByName(delta)
        return dedup_latest(both)

    def published(self, *, version: int | None = None) -> DataFrame:
        """Final user-facing state (tombstones filtered); ``version``
        time-travels — the ONE definition of the published view, shared
        by read_tag/read_as_of/CLI so the tombstone/bkt convention can
        never diverge between them."""
        return (
            self.read(version=version)
            .filter(~F.col("is_deleted"))
            .drop("is_deleted", "bkt")
        )

    # ------------------------------------------------------------------
    # MERGE commit (merge-on-read: append the deduped change-set)
    # ------------------------------------------------------------------

    def merge_epoch(
        self,
        batch_events: DataFrame,
        epoch_id: int,
        *,
        extract: bool = True,
        stage: bool = False,
    ) -> dict:
        """Apply one micro-batch of change events as an idempotent, atomic
        commit; returns the commit metrics.

        ``batch_events`` columns: seq, op, url, warc_ts, html, lang
        (epoch/schema_change optional and ignored here).

        ONE heavy job per epoch: dedup (hash agg) → HTML→text extraction
        (Arrow-batched pandas UDF) → range-clustered delta write. Metrics
        then come from a column-pruned scan of the files just written plus
        their footers — never a second pass over html/text bytes.

        ``stage=True`` is write-audit-publish (Iceberg's WAP workflow):
        the heavy job runs and the delta files land, but instead of a
        snapshot commit a create-exclusive *staged manifest* is written —
        invisible to every reader until :meth:`publish_staged` promotes it
        (or :meth:`abort_staged` discards it). Audit the candidate with
        :meth:`audit_staged` / :meth:`staged_read` in between. Staging is
        covered by the same idempotence: a duplicate delivery of a staged
        or committed epoch skips.
        """
        # TransactionStage analogue (reference exec/TransactionStage.java,
        # consulted by BulkLoader's resume to know how far a transaction
        # got): each epoch progresses RUN_BEGIN → JOB_DONE (the one heavy
        # Spark job) → FILES_LISTED → COMMITTED / SKIPPED. The stage trace
        # plus per-phase wall seconds land in the commit metrics — our
        # resume unit is the whole epoch, so the trace is observability
        # and post-mortem truth, not a mid-epoch restart point.
        stages: list[str] = ["RUN_BEGIN"]
        t0 = time.perf_counter()
        phase: dict[str, float] = {}

        snap = self.current_snapshot()
        if epoch_id in set(snap["committed_epochs"]):
            return {"epoch_id": epoch_id, "skipped_duplicate_epoch": True,
                    "stages": stages + ["SKIPPED"]}
        if stage and os.path.exists(self._staged_path(epoch_id)):
            return {"epoch_id": epoch_id, "skipped_duplicate_stage": True,
                    "stages": stages + ["SKIPPED"]}

        cur = self.schema(snap)
        nb = self._nb(snap)

        # core event columns plus any payload column the evolved target
        # schema declares (schema-evolution adds flow through the merge).
        # A batch column may arrive under a PRE-rename name (producers keep
        # emitting the original name after a rename DDL) — resolve each
        # candidate through the rename/drop chain before the declared-name
        # check, else a renamed added column's payload would be silently
        # dropped (or a DROPPED column's stale payload would leak into a
        # reused name).
        ev_cols = ["seq", "op", "url", "warc_ts", "html", "lang"]
        declared = {f.name for f in cur.fields}
        resolve = self._wire_resolver(snap)

        extra_cols = [
            c for c in batch_events.columns
            if c not in ev_cols + ["epoch", "schema_change"]
            and resolve(c) in declared
        ]
        batch = batch_events.select(*ev_cols, *extra_cols)

        # piggyback per-key event counts on the dedup shuffle (no 2nd pass)
        latest = dedup_latest(batch, extra_aggs={"_n_events": F.count(F.lit(1))})
        if extract:
            latest = latest.withColumn(
                "text",
                F.when(F.col("op") == "D", F.lit(None).cast("string")).otherwise(
                    extract_text(F.col("html"))
                ),
            )
        elif "text" in latest.columns:
            # extract=False with pre-extracted text in the batch (an
            # upstream parser already did the html→text work, e.g. the
            # pipeline's lake sink): keep it — deletes still null out
            latest = latest.withColumn(
                "text",
                F.when(
                    F.col("op") == "D", F.lit(None).cast("string")
                ).otherwise(F.col("text")),
            )
        else:
            latest = latest.withColumn("text", F.lit(None).cast("string"))
        changes = changes_to_target_rows(latest, carry=["_n_events"])
        # incoming events use original column names; map each through the
        # rename/drop chain so evolved batches land under the current
        # names and payloads for dropped columns are discarded — even when
        # a later rename reuses the dropped name (the renamed column owns
        # it; the wire column predates the drop)
        structural = {"url", "warc_ts", "seq", "is_deleted", "_n_events"}
        mapping = {
            c: resolve(c) for c in changes.columns if c not in structural
        }
        # drops first (a rename may legitimately reuse a dropped name),
        # then renames; a rename whose target is still occupied loses to
        # the identity column already carrying that name
        for c, target in mapping.items():
            if target is None:
                changes = changes.drop(c)
        for c, target in mapping.items():
            if target is not None and target != c:
                if target in changes.columns:
                    changes = changes.drop(c)
                else:
                    changes = changes.withColumnRenamed(c, target)
        # normalize to the (possibly evolved) current schema
        for field in cur.fields:
            if field.name not in changes.columns:
                changes = changes.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        changes = changes.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in cur.fields],
            F.col("_n_events"),
        ).withColumn("bkt", bucket_of(F.col("url"), nb))

        # dir name is version-independent so pipelined epochs never collide
        rel_dir = f"data/e{epoch_id:08d}_{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.path, rel_dir)
        # Write the dedup shuffle's output directly: AQE coalesces the agg's
        # post-shuffle partitions to sized files — no second shuffle, no
        # range-sampling pass (repartitionByRange would re-run extraction to
        # sample boundaries). Delta files are therefore url-hash-clustered,
        # not bucket-clustered; that's fine because in MOR nothing on the
        # hot path reads deltas by bucket (compaction and published() scan
        # them all).
        # lineage/metrics piggyback on the write itself via Observation:
        # 3 tiny conditional aggs per bucket + a global max, evaluated
        # inside the write job — per-epoch cost is ONE Spark job, not two
        # (reference TaskReport analogue, exec/BulkLoader.java:121-152).
        from pyspark.sql import Observation

        obs = Observation(f"epoch_{epoch_id}")
        # lineage granularity: exact per-bucket up to 16 buckets, else 16
        # contiguous bucket groups — keeps the observe expression count
        # (3×groups+1) inside whole-stage codegen and off the per-epoch
        # planning critical path (measured ~0.5 s/epoch at 97 exprs)
        n_groups = min(nb, 16)
        per_group = -(-nb // n_groups)  # ceil
        g = (F.col("bkt") / per_group).cast("int")
        obs_aggs = [F.max("warc_ts").alias("max_ts")]
        for i in range(n_groups):
            hit = g == i
            obs_aggs += [
                F.sum(F.when(hit, F.col("_n_events"))).alias(f"ev_{i}"),
                F.count(F.when(hit, F.lit(1))).alias(f"keys_{i}"),
                F.sum(F.when(hit & F.col("is_deleted"), F.lit(1))).alias(f"del_{i}"),
            ]
        changes.observe(obs, *obs_aggs).write.mode("overwrite").parquet(out_dir)
        stats = obs.get
        stages.append("JOB_DONE")
        phase["job"] = round(time.perf_counter() - t0, 3)

        files, rows_written, nbytes = self._list_files(rel_dir)
        stages.append("FILES_LISTED")
        phase["list_files"] = round(time.perf_counter() - t0 - phase["job"], 3)
        if rows_written == 0:
            if stage:
                return self._write_staged(
                    epoch_id,
                    metrics={"epoch_id": epoch_id, "rows_in": 0,
                             "empty_batch": True, "phase_seconds": phase},
                    lineage=[], delta_group=None, hll_regs=None, stages=stages,
                    n_buckets=nb,
                )
            return self._commit(
                snap, epoch_id,
                metrics={"epoch_id": epoch_id, "rows_in": 0, "empty_batch": True,
                         "stages": stages + ["COMMITTED"], "phase_seconds": phase},
                lineage=[],
            )

        lineage = [
            {"bucket": i * per_group,
             "buckets": f"{i * per_group}-{min((i + 1) * per_group, nb) - 1}",
             "rows": stats[f"keys_{i}"],
             "events": stats[f"ev_{i}"] or 0, "deletes": stats[f"del_{i}"] or 0}
            for i in range(n_groups)
            if stats[f"keys_{i}"]
        ]
        rows_in = sum(r["events"] for r in lineage)
        keys_in_batch = sum(r["rows"] for r in lineage)
        metrics = {
            "epoch_id": epoch_id,
            "rows_in": rows_in,
            "keys_in_batch": keys_in_batch,
            "dedup_count": rows_in - keys_in_batch,
            "delete_keys": sum(r["deletes"] for r in lineage),
            "rows_written": rows_written,
            "delta_files": len(files),
            "delta_bytes": nbytes,
            "buckets_touched": len(lineage),
            "max_warc_ts": str(stats["max_ts"]),
            # ingest watermark lag: commit wall-time minus newest event ts
            # (north-rule metric; negative-clamped for synthetic streams
            # whose event times are in the future of wall time). max_ts is a
            # naive datetime in the session tz (pinned UTC) — attach UTC
            # before .timestamp(), which would otherwise assume host-local.
            "watermark_lag_sec": (
                max(
                    0.0,
                    round(
                        time.time()
                        - stats["max_ts"].replace(tzinfo=timezone.utc).timestamp(),
                        3,
                    ),
                )
                if stats["max_ts"] is not None else None
            ),
        }
        metrics["stages"] = stages + ["COMMITTED"]
        metrics["delta_dir"] = rel_dir
        phase["metrics"] = round(
            time.perf_counter() - t0 - phase["job"] - phase["list_files"], 3
        )
        metrics["phase_seconds"] = phase
        delta_group = {
            "files": files,
            "schema_v": snap["schema_v"],
            "rows": rows_written,
            "epoch_id": epoch_id,
        }
        fstats = self._maybe_stats(files)
        if fstats:
            self._attach_stats(delta_group, fstats)
            phase["stats"] = round(
                time.perf_counter() - t0 - sum(phase.values()), 3
            )
        hll_regs = None
        if self.url_hll:
            # O(change-set) column-pruned re-read of the delta just
            # written (url only — a few bytes/row); ≤ 256 rows collect
            from ..operators.sketch import hll_sketch

            urls = self.spark.read.parquet(
                *[os.path.join(self.path, f) for f in files]
            ).select("url")
            hll_regs = {
                str(r["bucket"]): int(r["rho"])
                for r in hll_sketch(urls, "url", []).collect()
            }
        if stage:
            metrics["stages"] = stages  # _write_staged appends STAGED
            return self._write_staged(
                epoch_id, metrics=metrics, lineage=lineage,
                delta_group=delta_group, hll_regs=hll_regs, stages=stages,
                n_buckets=nb,
            )
        out = self._commit(
            snap, epoch_id, metrics=metrics, lineage=lineage,
            new_delta=delta_group, hll_regs=hll_regs, expect_nb=nb,
        )
        self.maybe_compact()
        return out

    # ------------------------------------------------------------------
    # point lookups & predicate deletes
    # ------------------------------------------------------------------

    def lookup_urls(self, urls: list[str] | str) -> DataFrame:
        """Point lookup: current live rows for the given url(s), reading
        ONLY their hash buckets (1/n_buckets of the base) — and, with
        ``key_bloom``, only the files whose manifest bloom (or url
        min/max) may contain a probe key: under a pile of pending deltas
        the lookup opens O(key's version count) files instead of every
        delta covering the bucket (scan_plan's merge-key strong rule).
        Bucket math runs as one driver-local Spark job over the key list
        (xxhash64 — never re-implemented host-side, no drift), pinned to
        the captured snapshot version so a concurrent rebucket commit
        cannot make the pruning set and the file layout disagree."""
        snap = self.current_snapshot()
        keys = [urls] if isinstance(urls, str) else list(urls)
        if not keys:
            return self._empty(self.schema(snap))
        return self.scan_where(
            [("url", "in", keys)], version=snap["version"]
        )

    def scan_semi(
        self,
        probe: DataFrame,
        probe_col: str = "url",
        *,
        max_probe_keys: int = 10_000,
        filters: list[tuple] | tuple = (),
        published: bool = True,
    ) -> DataFrame:
        """Dynamic file pruning for a join: the table rows whose merge
        key appears in ``probe`` (a left-semi join), planned like
        Delta/Spark's DFP but DRIVER-side. One small job collects the
        distinct probe keys; when they fit ``max_probe_keys`` the read
        becomes a key-equality scan that opens only bloom/bucket-hit
        files (scan_plan's merge-key strong rule) — the probe side
        decides the file set before any table IO. Past the cap the read
        degrades to the ordinary full merge + semi join (AQE picks
        broadcast vs shuffle), which is the right plan once the probe is
        a large fraction of the key space anyway. ``filters`` are extra
        conjunctive attribute predicates, pushed through scan_where on
        the pruned path."""
        ks = [
            r[0]
            for r in probe.select(probe_col).where(
                F.col(probe_col).isNotNull()
            ).distinct().limit(max_probe_keys + 1).collect()
        ]
        if len(ks) <= max_probe_keys:
            return self.scan_where(
                [("url", "in", ks), *filters], published=published
            )
        df = self.published() if published else self.read()
        if filters:
            df = df.filter(self._pred_column(list(filters), self.schema()))
        # no distinct on the probe: a semi join ignores duplicate matches,
        # and pre-deduping a huge probe would be a second full shuffle
        return df.join(
            probe.select(F.col(probe_col).alias("url")),
            "url",
            "left_semi",
        )

    def key_history(
        self, urls: list[str] | str, *, version: int | None = None
    ) -> DataFrame:
        """All RETAINED versions of the given key(s) with provenance — the
        CDC "log of a key" (Debezium's per-key topic replay / Iceberg's
        changelog scan, narrowed to a point query). One row per physical
        version: each pending delta epoch contributes its per-epoch winner
        (``epoch`` = that epoch id); the compacted base and partial-
        compaction residuals contribute the folded state (``epoch`` NULL —
        compaction collapses folded epochs into one version, exactly like
        snapshot expiry bounds Iceberg's changelog). Tombstones appear as
        ``is_deleted`` rows.

        Cost: the merge-key strong rule (bloom / url-range per file, hash
        bucket for the base) means O(files actually containing the key),
        not O(pending delta files) — the same pruning as lookup_urls, but
        WITHOUT the MOR collapse, so every retained version survives."""
        snap = (
            self.snapshot_at(version) if version is not None
            else self.current_snapshot()
        )
        cur = self.schema(snap)
        keys = [urls] if isinstance(urls, str) else list(urls)
        empty = self._empty(cur).withColumn(
            "epoch", F.lit(None).cast("long")
        ).drop("bkt")
        if not keys:
            return empty
        skeep = self._key_keep_fn(snap, set(keys))
        kbkts = self._buckets_of_keys(keys, self._nb(snap))
        parts: list[DataFrame] = []
        base_groups = []
        for b, e in snap["base"].items():
            if int(b) not in kbkts:
                continue
            st = self.group_stats(e) or {}
            sv = int(e["schema_v"])
            files = [f for f in e["files"] if skeep(st.get(f), sv)]
            if files:
                base_groups.append((sv, files))
        base = self._read_file_groups(snap, base_groups)
        if base is not None:
            parts.append(base.withColumn("epoch", F.lit(None).cast("long")))
        for d in snap["deltas"]:
            st = self.group_stats(d) or {}
            sv = int(d["schema_v"])
            files = [f for f in d["files"] if skeep(st.get(f), sv)]
            if not files:
                continue
            df = self._read_file_groups(snap, [(sv, files)])
            ep = d.get("epoch_id")
            parts.append(df.withColumn(
                "epoch",
                F.lit(None if ep is None else int(ep)).cast("long"),
            ))
        if not parts:
            return empty
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.filter(F.col("url").isin(keys)).drop("bkt")

    def delete_where(
        self, condition, epoch_id: int, *, stage: bool = False,
        buckets: list[int] | None = None,
    ) -> dict:
        """Predicate DELETE as a first-class CDC commit (GDPR/right-to-be-
        forgotten over the lake): matching live rows become tombstone
        change events ((warc_ts, seq+1) — outranks the current winner,
        stays outranked by any later real change) routed through the SAME
        idempotent ``merge_epoch`` path, so deletes are epoch-keyed,
        resumable, duplicate-delivery-safe, WAP-stageable
        (``stage=True``), and O(change-set) on disk (no base rewrite —
        the physical purge happens at the next compaction, whose
        ``tombstone_retention_ts`` retires the markers).

        ``condition``: a Column or SQL string over the target schema.
        ``buckets``: optional scan restriction when the caller knows the
        predicate's key locality (e.g. from lookup_urls' bucket math)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        victims = (
            self.read(buckets=buckets)
            .filter(~F.col("is_deleted"))
            .filter(cond)
        )
        ev = victims.select(
            (F.col("seq") + 1).alias("seq"),
            F.lit("D").alias("op"),
            "url",
            "warc_ts",
            F.lit(None).cast("binary").alias("html"),
            "lang",
        )
        out = self.merge_epoch(ev, epoch_id, extract=False, stage=stage)
        out["delete_where"] = str(condition)
        return out

    def update_where(
        self, condition, set_exprs: dict, epoch_id: int, *,
        stage: bool = False, buckets: list[int] | None = None,
        extract: bool | None = None,
    ) -> dict:
        """Predicate UPDATE as a first-class CDC commit (backfills,
        re-tagging, compliance rewrites over the lake): matching live
        rows become full-image U events at (warc_ts, seq+1) — outranking
        the current winner, outranked by any later real change — routed
        through the SAME idempotent ``merge_epoch`` path: epoch-keyed,
        resumable, duplicate-delivery-safe, WAP-stageable, O(change-set)
        on disk (merge-on-read; no base rewrite).

        ``set_exprs``: column → SQL string or Column over the matched
        row. Keys/order columns (url, warc_ts, seq) are immutable — an
        identity rewrite would corrupt newer-wins resolution; change of
        identity is a delete+insert. ``extract`` defaults to True iff
        ``html`` is rewritten (text recomputes through the normal
        extraction path); untouched html carries its stored text through
        at zero extraction cost."""
        bad = {"url", "warc_ts", "seq", "is_deleted"} & set(set_exprs)
        if bad:
            raise ValueError(f"update_where cannot set {sorted(bad)}")
        if extract is None:
            extract = "html" in set_exprs
        cond = F.expr(condition) if isinstance(condition, str) else condition
        victims = (
            self.read(buckets=buckets)
            .filter(~F.col("is_deleted"))
            .filter(cond)
        )
        sets = {
            k: (F.expr(v) if isinstance(v, str) else v)
            for k, v in set_exprs.items()
        }
        skip = {"url", "warc_ts", "seq", "is_deleted", "op"}
        if extract:
            skip = skip | {"text"}  # recomputed from the (new) html
        payload = [
            (sets.get(c, F.col(c))).alias(c)
            for c in victims.columns
            if c not in skip
        ]
        ev = victims.select(
            (F.col("seq") + 1).alias("seq"),
            F.lit("U").alias("op"),
            "url",
            "warc_ts",
            *payload,
        )
        out = self.merge_epoch(ev, epoch_id, extract=extract, stage=stage)
        out["update_where"] = str(condition)
        out["update_set"] = sorted(set_exprs)
        return out

    def purge_txns(self) -> set[str]:
        """Transaction ids of completed purges (redelivery guard)."""
        d = os.path.join(self.path, "purge_txns")
        if not os.path.isdir(d):
            return set()
        return {
            n[:-5] for n in os.listdir(d) if n.endswith(".json")
        }

    def purge_keys(
        self,
        urls: list[str] | str,
        *,
        expire_history: bool = True,
        drop_tags: bool = False,
        purge_quarantine: bool = True,
        txn_id: str | None = None,
    ) -> dict:
        """PHYSICAL right-to-be-forgotten: remove every stored version of
        the given keys from disk — not just their visibility.

        ``delete_where`` is the logical half (O(change-set) tombstones;
        bytes stay until compaction). Compliance needs the bytes gone:

        1. the keys' hash buckets fold via a PARTIAL compaction with the
           keys dropped — every delta group folds (so no delta file
           retains a version), cold base buckets carry by reference:
           O(victim buckets + all deltas), never O(table);
        2. history that could still serve the keys expires
           (``expire_snapshots(keep_last=1)``) and the orphaned files
           delete immediately (no grace: the point IS the bytes);
        3. quarantine dead-letter dirs rewrite in place (a rejected
           event is still the person's data);
        4. the epoch change feed folds away (``changes_between`` cursors
           over pre-purge epochs invalidate — a feed that could replay
           the purged rows would defeat the purge).

        Refuses when tags pin pre-purge snapshots (they would keep
        serving the keys) unless ``drop_tags``; refuses when branches
        exist (their refs pin files independently — purge each branch,
        or fold it first). Iceberg analogue: DELETE + expire_snapshots +
        rewrite_data_files + remove_orphan_files as ONE compliance verb.

        ``txn_id``: redelivery guard for at-least-once admin pipelines
        (the same contract as epoch ids on ``merge_epoch``). A purge is
        NOT an epoch — blindly re-running a COMPLETED purge after later
        commits would erase data written since (a new request, not a
        redelivery). With a txn_id the completion is recorded
        (create-exclusive sidecar, written only after the purge fully
        finished) and a redelivery skips; a crash mid-purge leaves the
        txn unrecorded, so the redelivery correctly re-runs the
        incomplete purge."""
        keys = sorted({urls} if isinstance(urls, str) else set(urls))
        if not keys:
            raise ValueError("purge_keys needs at least one key")
        if txn_id is not None and txn_id in self.purge_txns():
            return {"skipped_duplicate_txn": True, "txn_id": txn_id}
        bd = self._branches_dir()
        branches = sorted(os.listdir(bd)) if os.path.isdir(bd) else []
        if branches:
            raise ValueError(
                f"branches {branches} pin their own snapshots; purge or "
                "remove them first (a purge that leaves a branch serving "
                "the keys is not a purge)"
            )
        tags = self.tags()
        if tags and not drop_tags:
            raise ValueError(
                f"tags {sorted(tags)} pin pre-purge snapshots; pass "
                "drop_tags=True to release them"
            )
        staged = self.staged_epochs()
        if staged:
            # a staged WAP change-set may carry the keys' rows: its files
            # are orphan-protected and a later publish would resurrect
            # the purged data — the purge must not report success over it
            raise ValueError(
                f"staged epochs {sorted(staged)} exist; publish or abort "
                "them first (a staged change-set could re-publish the "
                "purged keys)"
            )
        # victim buckets derive INSIDE the compaction from its own
        # captured snapshot (compact with buckets=None + drop_keys), so a
        # concurrent rebucket retries with the fresh layout instead of
        # leaving un-rewritten buckets
        rep = self.compact(drop_keys=keys)
        # tags drop only after the rewrite succeeded: a failed purge must
        # not destroy retention leases as a side effect
        for t in sorted(tags):
            self.drop_tag(t)
        out = {
            "purged_keys": len(keys),
            "buckets_rewritten": rep.get("buckets_folded"),
            "compaction": rep,
            "tags_dropped": sorted(tags),
        }
        if purge_quarantine:
            qroot = os.path.join(self.path, "quarantine")
            rewritten = []
            if os.path.isdir(qroot):
                # heal missing-base-dir crash states first: a leftover
                # whose base dir is gone would otherwise be skipped by
                # name and never rolled forward/back
                heal_swap_leftovers(qroot)
                for ep in sorted(os.listdir(qroot)):
                    if is_swap_leftover(ep):
                        continue  # garbage next to a live dir: ignored
                    d = os.path.join(qroot, ep)
                    recover_dir_swap(d)
                    if not os.path.isdir(d):
                        continue
                    q = self.spark.read.parquet(d)
                    if "url" not in q.columns:
                        continue
                    if q.filter(F.col("url").isin(keys)).limit(1).count():
                        rewrite_dir_excluding(self.spark, d, "url", keys)
                        rewritten.append(ep)
            out["quarantine_rewritten"] = rewritten
        if expire_history:
            out["expired"] = self.expire_snapshots(keep_last=1)
            out["orphans"] = self.cleanup_orphans(grace_seconds=0.0)
        if txn_id is not None:
            d = os.path.join(self.path, "purge_txns")
            os.makedirs(d, exist_ok=True)
            _atomic_create_json(
                os.path.join(d, f"{txn_id}.json"),
                {"keys": len(keys), "completed": True},
            )
            out["txn_id"] = txn_id
        return out

    def apply_snapshot(
        self,
        snapshot: DataFrame,
        epoch_id: int,
        *,
        compare: tuple[str, ...] = ("html",),
        missing_as_delete: bool = True,
        delete_ts: str | None = None,
        extract: bool = True,
        stage: bool = False,
        assume_unique: bool = False,
    ) -> dict:
        """Ingest a periodic FULL dump by diffing it against the live
        state (operators/merge.py::snapshot_diff — Debezium/DMS
        full-load-then-diff when the source has no binlog): unchanged
        urls emit nothing, changed/new urls become update events, urls
        missing from the dump become deletes at ``delete_ts``, and the
        change-set rides the normal idempotent ``merge_epoch`` path
        (epoch-keyed, resumable, WAP-stageable). Cost: one url equi-join
        where the table side ships only 64-bit digests, then
        O(change-set) — a mostly-unchanged re-crawl is nearly free."""
        from ..operators.merge import snapshot_diff

        # digest computed per RAW row BELOW the MOR dedup (read(project=)):
        # the table contributes 12-byte agg buffers and a (url, digest)
        # join side; its html/text bytes are hashed at the scan and never
        # shuffled or buffered
        cur = (
            self.read(
                project={
                    "_digest": F.xxhash64(*[F.col(c) for c in compare])
                }
            )
            .filter(~F.col("is_deleted"))
            .select("url", "_digest")
        )
        events = snapshot_diff(
            cur, snapshot, compare=compare, current_digest_col="_digest",
            missing_as_delete=missing_as_delete, delete_ts=delete_ts,
            assume_unique=assume_unique,
        )
        for name, dtype in (("html", "binary"), ("lang", "string")):
            if name not in events.columns:
                events = events.withColumn(name, F.lit(None).cast(dtype))
        out = self.merge_epoch(events, epoch_id, extract=extract, stage=stage)
        out["snapshot_diff"] = True
        return out

    # ------------------------------------------------------------------
    # write-audit-publish (WAP): staged epochs — Iceberg's audit-branch
    # workflow on the snapshot manifest (stage → audit → publish/abort)
    # ------------------------------------------------------------------

    def _staged_path(self, epoch_id: int) -> str:
        return os.path.join(self._staged_dir, f"e{epoch_id:08d}.json")

    def staged_epochs(self) -> set[int]:
        """Epochs staged but not yet published (nor aborted)."""
        try:
            fns = os.listdir(self._staged_dir)
        except FileNotFoundError:
            return set()
        return {
            int(f[1:9]) for f in fns
            if f.startswith("e") and f.endswith(".json")
        }

    def _load_staged(self, epoch_id: int) -> dict:
        p = self._staged_path(epoch_id)
        if not os.path.exists(p):
            raise FileNotFoundError(f"epoch {epoch_id} is not staged")
        with open(p) as f:
            return json.load(f)

    def _write_staged(
        self, epoch_id: int, *, metrics: dict, lineage: list,
        delta_group: dict | None, hll_regs: dict | None, stages: list[str],
        n_buckets: int | None = None,
    ) -> dict:
        metrics = dict(metrics, staged=True, staged_at=time.time())
        metrics["stages"] = stages + ["STAGED"]
        manifest = {
            "epoch_id": epoch_id,
            "delta": delta_group,
            "metrics": metrics,
            "lineage": lineage,
            "hll_regs": hll_regs,
            # layout the change-set was hashed under: publish re-checks it
            # so a rebucket between stage and publish can't slip a
            # mis-bucketed delta into the new layout
            "n_buckets": (
                n_buckets if n_buckets is not None else self.n_buckets
            ),
        }
        try:
            _atomic_create_json(self._staged_path(epoch_id), manifest)
        except FileExistsError:
            # lost a stage race: the winner's files are equivalent (same
            # deterministic dedup result); ours become cleanup orphans
            return {"epoch_id": epoch_id, "skipped_duplicate_stage": True,
                    "stages": stages + ["SKIPPED"]}
        return metrics

    def staged_changes(self, epoch_id: int) -> DataFrame:
        """The staged epoch's deduped change-set (tombstones included) —
        the WRITE under audit."""
        man = self._load_staged(epoch_id)
        snap = self.current_snapshot()
        if man["delta"] is None:
            return self._empty(self.schema(snap))
        df = self._read_file_groups(
            snap, [(int(man["delta"]["schema_v"]), man["delta"]["files"])]
        )
        return df if df is not None else self._empty(self.schema(snap))

    def staged_read(self, epoch_id: int) -> DataFrame:
        """Table state AS IF the staged epoch were published (current
        read() ∪ staged changes, same MOR resolution) — audit the future,
        pay only O(base + staged): readers of the real table see nothing."""
        staged = self.staged_changes(epoch_id)
        return dedup_latest(self.read().unionByName(staged))

    def audit_staged(self, epoch_id: int, rules: list[dict]) -> DataFrame:
        """Violation report (operators/validate.py) over the staged
        epoch's change-set — the A of WAP. One aggregate pass over O(Δ)."""
        from ..operators.validate import violation_report

        return violation_report(self.staged_changes(epoch_id), rules)

    def publish_staged(
        self, epoch_id: int, *, audit_rules: list[dict] | None = None
    ) -> dict:
        """Promote a staged epoch to a committed snapshot — the atomic P
        of WAP; no data moves, only the manifest. Idempotent: publishing
        an already-committed epoch removes the leftover staged manifest
        and skips (crash between commit and manifest removal self-heals).
        ``audit_rules``: convenience gate — violations raise and leave the
        stage intact (abort stays an explicit decision)."""
        try:
            man = self._load_staged(epoch_id)
        except FileNotFoundError:
            if epoch_id in self.committed_epochs():
                return {"epoch_id": epoch_id, "skipped_duplicate_epoch": True}
            raise
        if audit_rules:
            bad = {
                r["rule"]: r["violations"]
                for r in self.audit_staged(epoch_id, audit_rules).collect()
                if r["violations"]
            }
            if bad:
                raise ValueError(
                    f"staged epoch {epoch_id} failed audit: {bad}"
                )
        snap = self.current_snapshot()
        if epoch_id in set(snap["committed_epochs"]):
            os.remove(self._staged_path(epoch_id))
            return {"epoch_id": epoch_id, "skipped_duplicate_epoch": True}
        man_nb = man.get("n_buckets")
        if man_nb is not None and man_nb != self._nb(snap):
            raise ValueError(
                f"staged epoch {epoch_id} was hashed under {man_nb} buckets "
                f"but the table was rebucketed to {self._nb(snap)}; abort "
                f"the stage and re-run the epoch"
            )
        metrics = dict(man["metrics"])
        metrics["stages"] = list(metrics.get("stages") or []) + ["COMMITTED"]
        metrics["published_from_stage"] = True
        out = self._commit(
            snap, epoch_id, metrics=metrics, lineage=man["lineage"],
            new_delta=man["delta"], hll_regs=man["hll_regs"],
            expect_nb=man_nb,
        )
        os.remove(self._staged_path(epoch_id))
        self.maybe_compact()
        return out

    def abort_staged(self, epoch_id: int) -> dict:
        """Discard a staged epoch: manifest first (the authoritative
        record), then its data files. Idempotent."""
        try:
            man = self._load_staged(epoch_id)
        except FileNotFoundError:
            return {"epoch_id": epoch_id, "already_gone": True}
        os.remove(self._staged_path(epoch_id))
        removed = 0
        if man["delta"]:
            sref = man["delta"].get("stats_ref")
            if sref and os.path.exists(os.path.join(self.path, sref)):
                os.remove(os.path.join(self.path, sref))
            for rel in man["delta"]["files"]:
                fp = os.path.join(self.path, rel)
                if os.path.exists(fp):
                    os.remove(fp)
                    removed += 1
            d = os.path.dirname(os.path.join(self.path, man["delta"]["files"][0]))
            if os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
        return {"epoch_id": epoch_id, "aborted": True, "files_removed": removed}

    def _list_files(self, rel_dir: str) -> tuple[list[str], int, int]:
        import pyarrow.parquet as pq

        full = os.path.join(self.path, rel_dir)
        files, rows, nbytes = [], 0, 0
        for root, _dirs, fns in os.walk(full):
            for fn in sorted(fns):
                if fn.endswith(".parquet"):
                    fp = os.path.join(root, fn)
                    files.append(os.path.relpath(fp, self.path))
                    rows += pq.ParquetFile(fp).metadata.num_rows
                    nbytes += os.path.getsize(fp)
        return files, rows, nbytes

    def _maybe_stats(
        self, rel_files: list[str], file_schema: T.StructType | None = None
    ) -> dict | None:
        """Per-file stats for files just written, when the handle opted
        in — one column-pruned scan (streaming/filestats.py), plus one
        key-column scan for the per-file url blooms under ``key_bloom``
        (stored as ``"kb"`` inside each file's stats entry)."""
        if not (self.stats_columns or self.key_bloom) or not rel_files:
            return None
        from .filestats import collect_file_blooms, collect_file_stats

        out = collect_file_stats(
            self.spark, self.path, rel_files,
            list(self.stats_columns), file_schema,
        )
        if self.key_bloom and out:
            blooms = collect_file_blooms(
                self.spark, self.path, list(out), "url",
                {f: e["rows"] for f, e in out.items()}, file_schema,
            )
            for f, kb in blooms.items():
                out[f]["kb"] = kb
        return out

    # ------------------------------------------------------------------
    # stats manifest sidecars (Iceberg's manifest-file layer): per-file
    # stats/blooms live in immutable uuid-named JSONs under manifests/;
    # snapshots carry only the reference. Without this every snapshot
    # would inline every pending file's stats (a bloom is ~11 KiB b64),
    # making commit metadata IO O(pending files) — quadratic over an
    # uncompacted run. With refs, a commit writes O(its own new files)
    # manifest bytes plus a small snapshot, and rebase carries refs as
    # opaque strings.
    # ------------------------------------------------------------------

    def _write_manifest(self, stats: dict) -> str:
        rel = f"manifests/m-{uuid.uuid4().hex}.json"
        os.makedirs(os.path.join(self.path, "manifests"), exist_ok=True)
        _atomic_create_json(os.path.join(self.path, rel), stats)
        return rel

    def group_stats(self, group: dict | None) -> dict | None:
        """Per-file stats of a base/delta group — inline (legacy
        snapshots) or loaded from the group's ``stats_ref`` sidecar and
        cached (manifests are immutable). Missing/unreadable sidecar
        degrades to None = "no stats", which every planner treats as
        "could match": pruning is lost, correctness isn't."""
        if group is None:
            return None
        ref = group.get("stats_ref")
        if ref is None:
            return group.get("stats")
        st = self._manifest_cache.get(ref)
        if st is None:
            try:
                with open(os.path.join(self.path, ref)) as f:
                    st = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                return None
            self._manifest_cache[ref] = st
        return st

    def _attach_stats(self, group: dict, fstats: dict | None) -> None:
        """Record a freshly computed stats dict on a group via sidecar."""
        if fstats:
            group["stats_ref"] = self._write_manifest(fstats)

    def _commit(
        self,
        snap: dict,
        epoch_id: int | None,
        *,
        metrics: dict,
        lineage: list,
        new_delta: dict | None = None,
        new_base: dict | None = None,
        new_base_rows: int | None = None,
        folded_deltas: list | None = None,
        schema_v: int | None = None,
        schemas: dict | None = None,
        renames: list | None = None,
        drops: list | None = None,
        expect_base_of: dict | None = None,
        expect_schema_v_of: dict | None = None,
        expect_deltas_of: dict | None = None,
        expect_nb: int | None = None,
        n_buckets: int | None = None,
        hll_regs: dict | None = None,
        properties: dict | None = None,
    ) -> dict:
        """Publish a new snapshot. REBASES on the current snapshot under the
        commit lock (not the one the caller captured), so pipelined epochs
        whose heavy jobs overlapped commit their deltas without losing each
        other — optimistic concurrency as in Iceberg's commit protocol; the
        MOR resolution by (warc_ts, seq) makes the final state independent
        of commit interleaving. ``folded_deltas``: delta groups a compaction
        folded into the new base — only THOSE are dropped; deltas committed
        concurrently survive.

        ``expect_base_of`` / ``expect_schema_v_of``: the snapshot the caller
        derived its replacement ``base`` / ``schema_v`` from. If the current
        snapshot's corresponding section no longer matches, raise
        CommitConflict — the caller must recompute (sections that are
        wholesale-replaced cannot be rebased like the set-merged ones)."""
        with self._commit_lock:
            while True:
                cur = self.current_snapshot()
                if (
                    expect_base_of is not None
                    and cur["base"] != expect_base_of["base"]
                ):
                    raise CommitConflict(
                        "base changed since capture (concurrent compaction)"
                    )
                if (
                    expect_schema_v_of is not None
                    and cur["schema_v"] != expect_schema_v_of["schema_v"]
                ):
                    raise CommitConflict(
                        "schema_v changed since capture (concurrent DDL)"
                    )
                if (
                    expect_deltas_of is not None
                    and cur["deltas"] != expect_deltas_of["deltas"]
                ):
                    raise CommitConflict(
                        "deltas changed since capture (concurrent epoch "
                        "commit) — a rebucket cannot rebase old-layout "
                        "deltas; recompute from the new snapshot"
                    )
                if expect_nb is not None and self._nb(cur) != expect_nb:
                    # a delta hashed under the old layout must NOT
                    # set-merge onto a rebucketed snapshot — its bkt
                    # values would mis-prune every bucketed read
                    raise CommitConflict(
                        f"bucket layout changed since capture (rebucketed "
                        f"{expect_nb} → {self._nb(cur)}); re-run the epoch "
                        f"to re-hash its change-set"
                    )
                new_version = cur["version"] + 1
                committed_at = time.time()
                out_metrics = dict(metrics, committed_at=committed_at)
                epochs = set(cur["committed_epochs"])
                empty = set(cur.get("empty_epochs", ()))
                if epoch_id is not None:
                    epochs.add(epoch_id)
                    if metrics.get("empty_batch"):
                        empty.add(epoch_id)
                deltas = cur["deltas"]
                if folded_deltas is not None:
                    folded_keys = {d["files"][0] for d in folded_deltas if d["files"]}
                    deltas = [
                        d for d in deltas
                        if not d["files"] or d["files"][0] not in folded_keys
                    ]
                if new_delta:
                    deltas = deltas + [new_delta]
                # cumulative url sketch: max-merge is commutative and
                # idempotent, so it rebases exactly like the epoch set
                url_hll = cur.get("url_hll") or {}
                if hll_regs:
                    from ..operators.sketch import merge_register_dicts

                    url_hll = merge_register_dicts(url_hll, hll_regs)
                if url_hll:
                    from ..operators.sketch import estimate_from_registers

                    out_metrics["distinct_urls_est"] = estimate_from_registers(
                        url_hll
                    )
                new_snap = {
                    "version": new_version,
                    "epoch_id": epoch_id,
                    "committed_epochs": sorted(epochs),
                    "empty_epochs": sorted(empty),
                    "schema_v": schema_v if schema_v is not None else cur["schema_v"],
                    "schemas": schemas or cur["schemas"],
                    "renames": renames if renames is not None else cur["renames"],
                    "drops": drops if drops is not None else cur.get("drops", []),
                    "n_buckets": (
                        n_buckets if n_buckets is not None else self._nb(cur)
                    ),
                    "base": new_base if new_base is not None else cur["base"],
                    "base_rows": (
                        new_base_rows if new_base_rows is not None
                        else cur["base_rows"]
                    ),
                    "deltas": deltas,
                    "url_hll": url_hll,
                    "metrics": out_metrics,
                    "lineage": lineage,
                    "committed_at": committed_at,
                    # TBLPROPERTIES ride every commit; only
                    # set_properties replaces them
                    "properties": (
                        properties if properties is not None
                        else cur.get("properties") or {}
                    ),
                }
                try:
                    # create-exclusive: a concurrent writer (another
                    # process/handle) that took this version first wins;
                    # we re-read and rebase — full optimistic concurrency
                    _atomic_create_json(self._snap_path(new_version), new_snap)
                    return out_metrics
                except FileExistsError:
                    continue

    # ------------------------------------------------------------------
    # schema evolution (add / rename / widen) — manifest-only, no rewrite
    # ------------------------------------------------------------------

    def _bump_schema(
        self, snap: dict, new_ddl: str, rename: dict | None = None,
        drop: dict | None = None,
    ) -> None:
        """Commit one schema version bump derived from ``snap``; raises
        CommitConflict if another DDL assigned the same schema_v first —
        two concurrent bumps must not hand out the same version number to
        different DDLs (the manifest's schema map is append-only by key)."""
        new_schema_v = snap["schema_v"] + 1
        schemas = dict(snap["schemas"], **{str(new_schema_v): new_ddl})
        renames = list(snap["renames"])
        if rename:
            renames.append(dict(rename, schema_v=new_schema_v))
        drops = list(snap.get("drops", []))
        if drop:
            drops.append(dict(drop, schema_v=new_schema_v))
        self._commit(
            snap, None,
            metrics={"schema_change": True, "schema_v": new_schema_v},
            lineage=[], schema_v=new_schema_v, schemas=schemas,
            renames=renames, drops=drops,
            expect_schema_v_of=snap,
        )

    def add_column(self, name: str, spark_type: str) -> None:
        # DDL-parse the type: accepts both constructor names ('long') and
        # simpleString/DDL names ('bigint', 'decimal(10,2)') — evolve-mode
        # replication feeds simpleString() forms here
        dt = T.StructType.fromDDL(f"x {spark_type}")[0].dataType
        if (
            self.cluster_mode == "zorder"
            and len(self.sort_columns) >= 2
            and name in self.sort_columns
        ):
            from .zorder import validate_zorder_columns

            validate_zorder_columns(
                T.StructType().add(name, dt), self.sort_columns
            )
        while True:
            snap = self.current_snapshot()
            cur = self.schema(snap)
            if name in cur.fieldNames():
                return
            new = T.StructType(cur.fields).add(name, dt)
            try:
                return self._bump_schema(snap, _ddl_of(new))
            except CommitConflict:
                continue  # recompute against the DDL that beat us

    def rename_column(self, old: str, new: str) -> None:
        while True:
            snap = self.current_snapshot()
            cur = self.schema(snap)
            if old not in cur.fieldNames():
                return
            fields = [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in cur.fields
            ]
            try:
                return self._bump_schema(
                    snap, _ddl_of(T.StructType(fields)),
                    rename={"from": old, "to": new},
                )
            except CommitConflict:
                continue

    #: columns the MOR resolution and tombstone semantics stand on —
    #: never droppable (reference: Embulk's remove_columns filter refuses
    #: nothing, but it has no keyed merge to protect)
    PROTECTED_COLUMNS = frozenset({"url", "warc_ts", "seq", "is_deleted"})

    def _wire_resolver(self, snap: dict):
        """resolve(wire_name) → current column name, or None if the wire
        column's payload must be discarded. Walks the interleaved
        rename/drop chain in schema_v order. After a drop, the wire name
        RE-BINDS to a later re-ADD of the same name (a producer that kept
        emitting it targets the new column) — but NOT to a rename that
        reused the name (the renamed column owns it; the wire column
        predates the drop). Mirrors Iceberg's field-id reasoning without
        field ids."""
        chain = sorted(
            [dict(r, _op="rename") for r in snap["renames"]]
            + [dict(d, _op="drop") for d in snap.get("drops", [])],
            key=lambda c: c["schema_v"],
        )
        names_at = {
            int(v): {p.strip().split()[0] for p in ddl.split(",")}
            for v, ddl in snap["schemas"].items()
        }

        def resolve(name: str) -> str | None:
            pos_v = 0
            while True:
                nxt = next(
                    (
                        c for c in chain
                        if c["schema_v"] > pos_v and (
                            (c["_op"] == "rename" and c["from"] == name)
                            or (c["_op"] == "drop" and c["name"] == name)
                        )
                    ),
                    None,
                )
                if nxt is None:
                    return name
                if nxt["_op"] == "rename":
                    name, pos_v = nxt["to"], nxt["schema_v"]
                    continue
                d_v = nxt["schema_v"]
                readd_v = min(
                    (v for v, ns in names_at.items()
                     if v > d_v and name in ns),
                    default=None,
                )
                if readd_v is None:
                    return None  # dropped, never re-introduced
                claimed = any(
                    c["_op"] == "rename" and c["to"] == name
                    and d_v < c["schema_v"] <= readd_v
                    for c in chain
                )
                if claimed:
                    return None  # the reused name belongs to a rename
                pos_v = readd_v  # re-bind to the re-added incarnation

        return resolve

    def drop_column(self, name: str) -> None:
        """Drop a column manifest-only (zero rewrite — Embulk's
        remove_columns as a lake DDL, Iceberg's drop-column semantics):
        readers stop selecting it; pre-drop files keep the bytes on disk
        but a later re-add of the same name reads NULL from them, never
        the old values (no resurrection — pinned by the drops list in
        :meth:`_normalize`)."""
        if name in self.PROTECTED_COLUMNS:
            raise ValueError(
                f"column {name!r} is load-bearing for the keyed merge "
                f"(protected: {sorted(self.PROTECTED_COLUMNS)})"
            )
        while True:
            snap = self.current_snapshot()
            cur = self.schema(snap)
            if name not in cur.fieldNames():
                return
            fields = [f for f in cur.fields if f.name != name]
            try:
                return self._bump_schema(
                    snap, _ddl_of(T.StructType(fields)),
                    drop={"name": name},
                )
            except CommitConflict:
                continue

    def widen_column(self, name: str, to_embulk_type: str) -> None:
        """Widen per the reference lattice (schema_guess.rb:112-128);
        incompatible pairs widen to string."""
        from ..functions.coerce import EMBULK_TO_SPARK

        while True:
            snap = self.current_snapshot()
            cur = self.schema(snap)
            fields = []
            for f in cur.fields:
                if f.name == name:
                    fields.append(
                        T.StructField(name, EMBULK_TO_SPARK[to_embulk_type], True)
                    )
                else:
                    fields.append(f)
            try:
                return self._bump_schema(snap, _ddl_of(T.StructType(fields)))
            except CommitConflict:
                continue


