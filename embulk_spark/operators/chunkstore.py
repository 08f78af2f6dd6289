"""Incremental content-addressed chunk store for the CDC flow.

Batch chunk dedup (operators/cdchunk.py) re-chunks the whole corpus per
run; a change stream re-crawling 10^10 pages must not. This maintains a
persistent content-addressed store alongside the lake table: each epoch
chunks ONLY its changed documents (O(Δ) hashing), anti-joins the chunk
hashes against the as-of-epoch store, and commits just the NEW chunks
as an epoch-named delta — the transfer/storage-savings model of an
rsync/restic-style chunk store, with the lake's epoch-commit semantics
(duplicate delivery skipped, atomic rename commit, resume = replay the
missing epochs). Reference analogue: per-task commit lattice in
exec/BulkLoader.java:512-582 — the same at-least-once → exactly-once
promotion, applied to content-addressed storage.

Invariant (pinned by tests and the driver oracle): after ingesting any
epoch partitioning of a corpus in order, the stored chunk-hash set ==
the batch chunking's distinct hash set, and per-epoch ``new_chunks``
counts partition it by first-seen epoch — incremental == batch.

A content-addressed store only grows (chunks are shared across
documents, so document updates never delete); space reclamation needs
refcounts from the document→chunk manifests and is a compaction-time
GC, deliberately out of scope here (the lake's purge path owns
compliance deletes of the *documents*).

Scale shape per epoch: chunking is the narrow codegen projection from
cdchunk; the novelty test is ONE left-anti equi-join of the Δ-sized
hash set against the store scan (hash-partitioned both sides, AQE
broadcastable when Δ is small); metrics are partial-combine aggs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cdchunk import chunk_documents
from .incremental import EpochDeltas

_METRICS = "_metrics.json"


class ChunkStore(EpochDeltas):
    """Persistent (chunk_md5, chunk_len, epoch) store with epoch-commit
    semantics (operators/incremental.py::EpochDeltas); ``epoch`` is the
    chunk's first-seen epoch. Each data-bearing epoch dir carries the
    epoch's dedup metrics in a ``_metrics.json`` sidecar, so a duplicate
    delivery answers with the recorded metrics."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        window: int = 16,
        divisor: int = 64,
        salt: str = "cdcc:",
    ):
        super().__init__(path)
        self.spark = spark
        self.window, self.divisor, self.salt = window, divisor, salt
        # the cut rule is part of the on-disk format: epochs chunked with
        # different rules never share hashes, breaking incremental == batch
        self._pin_meta(
            {"window": window, "divisor": divisor, "salt": salt},
            "chunk store",
        )

    def _skipped(self, epoch: int) -> dict:
        mpath = os.path.join(self._epoch_dir(epoch), _METRICS)
        if not os.path.exists(mpath):  # an epoch committed empty
            return {"epoch": epoch, "chunks_seen": 0, "new_chunks": 0,
                    "new_chars": 0, "dup_chunks": 0,
                    "skipped_duplicate_epoch": True}
        with open(mpath) as f:
            return {**json.load(f), "skipped_duplicate_epoch": True}

    def chunks(self, *, as_of_epoch: int | None = None) -> DataFrame:
        """Stored (chunk_md5, chunk_len, epoch); hashes are unique by
        construction (an epoch commits only store-novel hashes)."""
        dirs = self._data_dirs(as_of_epoch=as_of_epoch)
        if not dirs:
            return self.spark.createDataFrame(
                [], "chunk_md5 string, chunk_len int, epoch int"
            )
        return self.spark.read.parquet(*dirs)

    def ingest_epoch(
        self,
        docs: DataFrame,
        epoch: int,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> dict:
        """Chunk the epoch's changed documents, store the hashes the
        store has never seen, return the epoch's dedup metrics:
        ``chunks_seen`` (occurrences in Δ), ``new_chunks`` /
        ``new_chars`` (stored), ``dup_chunks`` (occurrences answered by
        existing content — the transfer saving). Duplicate delivery of
        a committed epoch returns its recorded metrics unchanged."""
        if epoch in self.committed_epochs():
            return self._skipped(epoch)
        occ = chunk_documents(
            docs,
            id_col=id_col,
            text_col=text_col,
            window=self.window,
            divisor=self.divisor,
            salt=self.salt,
        ).select("chunk_md5", F.length("chunk").alias("chunk_len"))
        occ = occ.localCheckpoint(eager=True)  # chunk Δ once, use thrice
        seen = occ.count()
        distinct = occ.groupBy("chunk_md5").agg(
            F.max("chunk_len").alias("chunk_len")
        )
        novel = distinct.join(
            self.chunks(as_of_epoch=epoch - 1).select("chunk_md5"),
            "chunk_md5",
            "left_anti",
        ).select(
            "chunk_md5", "chunk_len", F.lit(epoch).cast("int").alias("epoch")
        )
        # pin the novel set once: the write and the metrics agg must see
        # the SAME rows (and a scratch re-read would race the rename)
        novel = novel.localCheckpoint(eager=True)
        row = novel.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("chunk_len"), F.lit(0)).alias("chars"),
        ).collect()[0]
        metrics = {
            "epoch": epoch,
            "chunks_seen": int(seen),
            "new_chunks": int(row["n"]),
            "new_chars": int(row["chars"]),
            "dup_chunks": int(seen) - int(row["n"]),
        }

        def write(scratch: str) -> None:
            novel.write.mode("overwrite").parquet(scratch)
            with open(os.path.join(scratch, _METRICS), "w") as f:
                json.dump(metrics, f)

        if self._commit_epoch(epoch, write)["skipped_duplicate_epoch"]:
            return self._skipped(epoch)  # lost a benign concurrent commit
        return {**metrics, "skipped_duplicate_epoch": False}

    def _fold(self, df: DataFrame, epoch: int) -> dict:
        # live rows chunk; tombstones are ignored (a content-addressed
        # store keeps chunks other documents may share; document deletion
        # is the lake's concern, byte reclamation is refcount-GC's)
        live = df.filter(~F.col("is_deleted")).select(
            F.col("url").alias("doc_id"), "text"
        )
        return self.ingest_epoch(live, epoch, id_col="doc_id")
