"""Incremental near-duplicate maintenance for the CDC flow.

Batch near-dup (operators/dedup.py::minhash_near_dups) recomputes every
signature on every run — fine for a one-shot corpus pass, wrong for a
change stream: at the 10^10-event design point an epoch touches a tiny
fraction of the keyspace, so re-hashing 100 TB per epoch would dominate
the whole pipeline. This module maintains a persistent MinHash signature
index alongside the lake table:

- ``update_epoch`` computes signatures for ONLY the epoch's changed keys
  (O(Δ) hashing) and commits them as an epoch-named delta — idempotent
  like the lake's epoch commits (duplicate delivery is skipped), so the
  index replays/resumes with the same at-least-once → exactly-once
  contract as the table itself (reference analogue: per-task commits in
  exec/BulkLoader.java:512-582).
- ``near_dups_for_epoch`` band-joins the epoch's (small) new signatures
  against the (large) as-of-epoch corpus index: work is Δ × corpus
  restricted to shared LSH buckets, never corpus × corpus.
- Updated keys supersede their old signature — resolved by the
  configured event-order columns (falling back to arrival epoch), the
  same max_by merge-on-read trick as the lake; deletes and shingle-less
  rewrites are tombstones.

Invariant (pinned by tests and the driver oracle): unioning
``near_dups_for_epoch`` over all epochs of a partitioned corpus yields
EXACTLY the batch ``minhash_near_dups`` pair set — incremental == batch.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.lake_util import heal_swap_leftovers, is_swap_leftover
from .dedup import banded_signatures, minhash_df

_TOMBSTONE_SCHEMA = "array<bigint>"


def _parquet_files(d: str) -> list[str]:
    try:
        return [fn for fn in os.listdir(d) if fn.endswith(".parquet")]
    except FileNotFoundError:
        return []


class EpochDeltas:
    """The on-disk epoch layout every lake follower shares (SignatureIndex
    here; BloomIndex, TermIndex, AggView, ChunkStore): ``<path>/deltas/
    epoch=N`` — an epoch is committed iff its directory exists, made
    atomic by filling a scratch dir and ``os.rename``-ing it into place;
    a bare directory is an epoch committed empty.

    Together with ``update_from_lake_epoch(table, epoch, *, delta_dir=None)``
    (``ParquetLakeTable.epoch_delta_paths`` finds the epoch's files) this
    is the follower protocol ``replay_batches``/``stream_events`` drive
    through ``followers=``. Every commit is idempotent per epoch, so a
    crash between the table commit and a follower's commit self-heals on
    resume (reference analogue: re-run only tasks without a committed
    report, exec/BulkLoader.java:584-690). Subclasses implement
    ``_fold(df, epoch)`` over the epoch's delta rows."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._deltas = os.path.join(path, "deltas")
        os.makedirs(self._deltas, exist_ok=True)
        # a purge swap (purge_epoch_dirs) that crashed between its two
        # renames leaves ``epoch=N`` missing and only its ``.old``/
        # ``.purge`` sibling: put the epoch dir back before anything
        # lists or reads the layout
        heal_swap_leftovers(self._deltas)

    def _pin_meta(self, meta: dict, what: str) -> None:
        """Pin the follower's on-disk format in ``meta.json``: reopening
        with different settings raises instead of mixing conventions."""
        meta_path = os.path.join(self.path, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                existing = json.load(f)
            if existing != meta:
                raise ValueError(
                    f"{what} at {self.path} was built with {existing}, "
                    f"reopened with {meta} — refusing to mix conventions"
                )
            return
        tmp = meta_path + f".tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.rename(tmp, meta_path)

    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self._deltas, f"epoch={epoch}")

    def committed_epochs(self) -> set[int]:
        # swap leftovers are not epochs: opening the handle healed any
        # from an earlier crash, and one left since reads as uncommitted
        # (the next delivery re-folds it from the lake, or raises)
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(self._deltas)
            if d.startswith("epoch=") and not is_swap_leftover(d)
        }

    def _skipped(self, epoch: int) -> dict:
        """Result of a duplicate delivery of a committed epoch."""
        return {"epoch": epoch, "skipped_duplicate_epoch": True}

    def commit_empty_epoch(self, epoch: int) -> dict:
        """Commit an epoch with no changes (keeps the follower's epoch set
        aligned with the table's for empty batches): a bare marker dir,
        which the readers skip (``_data_dirs``)."""
        if epoch in self.committed_epochs():
            return self._skipped(epoch)
        os.makedirs(self._epoch_dir(epoch), exist_ok=True)
        return {"epoch": epoch, "skipped_duplicate_epoch": False, "empty": True}

    def _commit_epoch(self, epoch: int, write) -> dict:
        """``write(scratch)`` fills a scratch dir that then renames to
        ``epoch=N``. Losing the rename to a concurrent writer of the same
        epoch reports a skipped duplicate — benign, epoch contents are
        deterministic; any other rename failure (EXDEV, EACCES, ...)
        raises instead of faking success."""
        scratch = os.path.join(
            self.path, f"_tmp_epoch_{epoch}_{uuid.uuid4().hex}"
        )
        write(scratch)
        final = self._epoch_dir(epoch)
        try:
            os.rename(scratch, final)  # atomic commit: dir exists = committed
        except OSError:
            shutil.rmtree(scratch, ignore_errors=True)
            if not os.path.isdir(final):
                raise
            return self._skipped(epoch)
        return {"epoch": epoch, "skipped_duplicate_epoch": False}

    def _data_dirs(self, *, as_of_epoch: int | None = None) -> list[str]:
        """Committed epoch dirs (up to ``as_of_epoch``) holding parquet
        files, in epoch order — the parquet reader cannot infer a schema
        from an empty-epoch marker."""
        dirs = [
            self._epoch_dir(e)
            for e in sorted(self.committed_epochs())
            if as_of_epoch is None or e <= as_of_epoch
        ]
        return [d for d in dirs if _parquet_files(d)]

    def update_from_lake_epoch(
        self, table, epoch: int, *, delta_dir: str | None = None
    ) -> dict:
        """Fold a committed lake epoch — an O(Δ) column-pruned re-read of
        its delta files; the extraction is never recomputed.
        ``delta_dir`` comes from the commit metrics; without it (resume
        with the follower behind the table) the files come from the
        snapshot, which works until compaction folds the epoch — attach
        the follower from the first epoch and resume promptly, or
        rebuild it with a batch pass."""
        if epoch in self.committed_epochs():
            return self._skipped(epoch)
        paths = table.epoch_delta_paths(epoch, delta_dir=delta_dir)
        if not paths:
            return self.commit_empty_epoch(epoch)
        return self._fold(table.spark.read.parquet(*paths), epoch)


class SignatureIndex(EpochDeltas):
    """Persistent per-key MinHash signatures with epoch-commit semantics.

    Layout: ``<path>/deltas/epoch=N/*.parquet`` (columns id, sig;
    sig NULL = tombstone), committed through :class:`EpochDeltas`.
    ``<path>/meta.json`` pins (id_col, id_type, k, bands,
    shingle_n) AND the exact minhash permutation constants (P, a_i, b_i)
    so a resumed handle can't silently mix permutation families —
    old-family deltas would band-hash to disjoint buckets and miss every
    pair. ``id_type`` (Spark simpleString, e.g. ``bigint``/``string``)
    types the frames the index constructs before any data-bearing epoch
    exists (an empty first micro-batch must still answer probes with a
    schema that unions cleanly with later epochs).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        id_type: str = "bigint",
        k: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        order_cols: list[str] | None = None,
    ) -> None:
        """``order_cols``: event-order columns (e.g. ``["warc_ts",
        "seq"]`` for the lake) that decide which version of a key wins
        across epochs — REQUIRED when the stream can deliver late
        events, because the lake resolves winners by event order, not
        arrival epoch; a late update must not supersede. Without them,
        the highest epoch wins (fine for append-only corpora)."""
        super().__init__(path)
        self.spark = spark
        self.id_col = id_col
        self.id_type = id_type
        self.k, self.bands, self.shingle_n = k, bands, shingle_n
        self.order_cols = list(order_cols or [])
        # the permutation family is part of the on-disk format: signatures
        # from different (P, a_i, b_i) constants band-hash to disjoint
        # buckets, so mixing families silently misses every near-dup pair.
        # Stamping the family forces an explicit rebuild instead.
        from .dedup import MINHASH_P, minhash_params

        a, b = minhash_params(k)
        self._pin_meta(
            {"id_col": id_col, "id_type": id_type, "k": k, "bands": bands,
             "shingle_n": shingle_n, "order_cols": self.order_cols,
             "minhash_family": [MINHASH_P, a, b]},
            "signature index",
        )

    # ------------------------------------------------------------------
    def update_epoch(
        self,
        changed: DataFrame,
        text_col: str,
        epoch: int,
        *,
        deleted_ids: DataFrame | None = None,
    ) -> dict:
        """Commit the epoch's signature delta. ``changed`` carries the
        epoch's winning rows (one per key — the lake's dedup output);
        ``deleted_ids`` (ids plus the configured ``order_cols``) become
        tombstones. Duplicate delivery of a committed epoch is skipped."""
        if epoch in self.committed_epochs():
            return self._skipped(epoch)
        got_type = changed.schema[self.id_col].dataType.simpleString()
        if got_type != self.id_type:
            raise ValueError(
                f"id column {self.id_col!r} is {got_type} but the index "
                f"was created with id_type={self.id_type!r} — pass "
                "id_type=... at index creation (it is part of the on-disk "
                "format: empty-epoch reads construct frames from it)"
            )
        if deleted_ids is not None:
            missing = [c for c in self.order_cols if c not in deleted_ids.columns]
            if missing:
                raise ValueError(
                    f"deleted_ids must carry the index's order_cols; missing "
                    f"{missing} (configured order_cols={self.order_cols})"
                )
        keyed = changed.select(self.id_col, *self.order_cols)
        sigs = minhash_df(
            changed, text_col, self.id_col, self.k, self.shingle_n
        )
        if self.order_cols:
            # ride the order columns along (one Δ-sized equi-join; the
            # epoch's change-set has one row per key by contract)
            sigs = sigs.join(keyed, self.id_col)
        # a changed key whose NEW text yields no shingles (< shingle_n
        # words) is dropped by minhash_df — it must TOMBSTONE, not keep
        # its stale signature: a batch recompute over the new state has
        # no row for it, and incremental == batch is the contract
        tombstone_cols = [
            F.col(self.id_col),
            F.lit(None).cast(_TOMBSTONE_SCHEMA).alias("sig"),
            *self.order_cols,
        ]
        unsigged = keyed.join(
            sigs.select(self.id_col), self.id_col, "left_anti"
        )
        sigs = sigs.unionByName(unsigged.select(*tombstone_cols))
        if deleted_ids is not None:
            sigs = sigs.unionByName(deleted_ids.select(*tombstone_cols))
        return self._commit_epoch(
            epoch, lambda scratch: sigs.write.mode("overwrite").parquet(scratch)
        )

    def purge_ids(self, ids: list) -> dict:
        """Compliance purge: every stored signature row of the ids leaves
        the index (see :func:`purge_epoch_dirs`); run after
        ``lake.purge_keys`` on the upstream table."""
        eps = purge_epoch_dirs(self.spark, self._deltas, ids, self.id_col)
        return {"epochs_rewritten": eps, "ids": len(ids)}

    def _fold(self, df: DataFrame, epoch: int) -> dict:
        missing = [c for c in self.order_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"index order_cols {missing} not in the delta schema "
                f"{df.columns} — create the index with "
                "order_cols=['warc_ts', 'seq'] for lake tables"
            )
        live = df.filter(~F.col("is_deleted")).select(
            F.col("url").alias(self.id_col), "text", *self.order_cols
        )
        deleted = df.filter(F.col("is_deleted")).select(
            F.col("url").alias(self.id_col), *self.order_cols
        )
        return self.update_epoch(live, "text", epoch, deleted_ids=deleted)

    # ------------------------------------------------------------------
    def signatures(self, *, as_of_epoch: int | None = None) -> DataFrame:
        """Latest live signature per key (tombstones dropped), optionally
        as of an epoch — one max_by hash agg with partial combine, the
        same merge-on-read shape as the lake read path."""
        paths = self._data_dirs(as_of_epoch=as_of_epoch)
        if not paths:
            # nothing signed yet (only empty epochs so far): a typed empty
            # frame — the id type is pinned in meta, so downstream unions
            # with later data-bearing epochs keep a consistent schema
            return self.spark.createDataFrame(
                [], f"`{self.id_col}` {self.id_type}, sig array<bigint>"
            )
        df = self.spark.read.option("basePath", self._deltas).parquet(*paths)
        order = F.struct(*self.order_cols, "epoch") if self.order_cols \
            else F.col("epoch")
        latest = df.groupBy(self.id_col).agg(
            F.max_by(F.struct("sig"), order).alias("_w")
        )
        return latest.select(
            self.id_col, F.col("_w.sig").alias("sig")
        ).filter(F.col("sig").isNotNull())

    def near_dups_for_epoch(
        self, epoch: int, *, threshold: float = 0.7
    ) -> DataFrame:
        """Near-dup pairs introduced by this epoch's change-set, probed
        against the corpus as of that epoch: band equi-join of Δ
        signatures vs the full index (shared LSH buckets only), Jaccard
        estimated from the signatures carried through the join. Pairs
        are normalized (id_a < id_b) and distinct."""
        corpus = self.signatures(as_of_epoch=epoch).localCheckpoint(eager=True)
        epoch_dir = self._epoch_dir(epoch)
        if not _parquet_files(epoch_dir):
            # empty-batch epoch: no change-set, no new pairs
            ident = F.col(self.id_col)
            return corpus.limit(0).select(
                ident.alias("id_a"), ident.alias("id_b"),
                F.lit(0.0).alias("jaccard_est"),
            )
        delta_ids = (
            self.spark.read.parquet(epoch_dir)
            .filter(F.col("sig").isNotNull())
            .select(self.id_col)
        )
        new = corpus.join(delta_ids, self.id_col, "left_semi")
        a = banded_signatures(
            new, self.id_col, self.k, self.bands, keep_sig=True
        ).alias("a")
        b = banded_signatures(
            corpus, self.id_col, self.k, self.bands, keep_sig=True
        ).alias("b")
        ida, idb = F.col(f"a.{self.id_col}"), F.col(f"b.{self.id_col}")
        est = F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda v: v,
            )
        ) / F.lit(float(self.k))
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (ida != idb),
            )
            .select(
                F.least(ida, idb).alias("id_a"),
                F.greatest(ida, idb).alias("id_b"),
                F.round(est, 6).alias("jaccard_est"),
            )
            .filter(F.col("jaccard_est") >= threshold)
            .distinct()
        )


def purge_epoch_dirs(
    spark, deltas_dir: str, ids: list, id_col: str = "id"
) -> list[int]:
    """Compliance helper shared by the epoch-committed side indexes
    (SignatureIndex here, TermIndex in termindex.py): rewrite every
    ``epoch=N`` delta dir that holds rows of the given ``id``s without
    them — in place, via write-aside + rename, preserving empty
    commit-marker dirs. Derived data (signatures, term stats) keyed by a
    purged url is still that url on disk; ``lake.purge_keys`` upstream
    plus this keeps the whole deployment clean. Bloom fingerprints
    (operators/bloom.py) are additive and cannot unlearn — their purge
    story is a rebuild from the purged lake, documented there."""
    from ..streaming.lake import (
        heal_swap_leftovers,
        is_swap_leftover,
        recover_dir_swap,
        rewrite_dir_excluding,
    )

    # heal missing-base-dir crash states first (crash between the two
    # renames leaves only .old/.purge leftovers in the listing — skipping
    # them by name without this would leave the epoch dir gone for good)
    heal_swap_leftovers(deltas_dir)
    rewritten = []
    for d in sorted(os.listdir(deltas_dir)):
        if not d.startswith("epoch=") or is_swap_leftover(d):
            continue
        full = os.path.join(deltas_dir, d)
        recover_dir_swap(full)
        if not _parquet_files(full):
            continue  # empty commit marker: nothing stored
        df = spark.read.parquet(full)
        if not df.filter(F.col(id_col).isin(ids)).limit(1).count():
            continue
        rewrite_dir_excluding(spark, full, id_col, ids)
        rewritten.append(int(d.split("=", 1)[1]))
    return rewritten
