"""Bloom-filter membership probe: dedup a new batch against a corpus
fingerprint without shuffling (or even re-reading) the corpus.

At 100 TB the dominant cost of "is this document already in the lake?"
is moving corpus-side data. An m-bit Bloom filter compresses the corpus
membership set to ``m/63`` packed longs — a frame that is broadcastable
at ANY corpus size once ``m`` is fixed (m = 2^27 → 16 MiB) — so the
per-epoch probe touches only the new batch. False positives are the
price: a positive means "maybe present, run the exact check on this row
only", a negative is definitive. This is the standard pre-filter in
front of exact dedup (operators/dedup.py) and the incremental near-dup
index (operators/incremental.py).

No reference analogue (Embulk has no cross-run membership state beyond
the ``last_path`` cursor, reference exec/BulkLoader.java:299-306); this
is SURVEY §2.10 curation surface.

Determinism/oracle parity: position ``i`` of value ``v`` is
``int(md5("{salt}{i}:" || v)[:15 hex]) mod m`` — the same
first-hex-chars-of-md5 arithmetic the sampling and MinHash operators pin
(operators/sample.py::hash_uniform), replayable verbatim in DuckDB.

Scale shape: build = explode k positions → ONE hash agg with map-side
partial ``bit_or`` combine onto ≤ m/63 rows. Probe = explode k candidate
positions → broadcast join against the packed words → all-bits-set
check via ``min`` agg back to one row per candidate. The corpus never
appears in the probe plan.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .incremental import EpochDeltas, _parquet_files


def _position(value: Column, i: int, m_bits: int, salt: str) -> Column:
    """Bit position of hash i: first 15 md5 hex chars (60 bits) mod m."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}{i}:"), value)), 1, 15),
        16,
        10,
    ).cast("long")
    return h % m_bits


#: bits per packed word — 63, not 64, so the long's sign bit is never
#: set: identical shift/or/and behavior in every engine (a 1<<63 mask
#: overflows signed-64 arithmetic in SQL engines with checked shifts)
WORD_BITS = 63


def _packed(pos: Column) -> tuple[Column, Column]:
    word = F.floor(pos / WORD_BITS).cast("long").alias("word")
    # F.shiftleft only takes a literal shift; the SQL form shifts by a column
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, {WORD_BITS}) AS INT))"
    ).alias("mask")
    return word, mask


def bloom_build(
    df: DataFrame,
    value_col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bf",
) -> DataFrame:
    """Pack the membership set of ``df[value_col]`` into (word, bits):
    word j holds bits ``[63j, 63j+63)`` of the m-bit filter. Words with
    no set bits are absent (the probe treats missing words as zero)."""
    pos = df.select(
        F.explode(
            F.array(
                *[_position(F.col(value_col), i, m_bits, salt) for i in range(k)]
            )
        ).alias("pos")
    )
    return pos.select(*_packed(F.col("pos"))).groupBy("word").agg(
        F.bit_or("mask").alias("bits")
    )


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    value_col: str,
    id_cols: list[str],
    *,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bf",
) -> DataFrame:
    """``id_cols + [maybe_present]`` per candidate row: true iff ALL k
    positions of ``value_col`` are set in ``bloom`` (definitely absent
    when false; verify-on-positive for exactness). ``bloom`` (≤ m/63
    rows) is broadcast — the probe never shuffles the candidates."""
    probes = candidates.select(
        *id_cols,
        F.explode(
            F.array(
                *[_position(F.col(value_col), i, m_bits, salt) for i in range(k)]
            )
        ).alias("pos"),
    ).select(*id_cols, *_packed(F.col("pos")))
    hit = (
        F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("mask")) != 0)
    ).cast("int")
    return (
        probes.join(F.broadcast(bloom), "word", "left")
        .groupBy(*id_cols)
        .agg((F.min(hit) == 1).alias("maybe_present"))
    )


# ---------------------------------------------------------------------------
# CDC-native incremental index
# ---------------------------------------------------------------------------

class BloomIndex(EpochDeltas):
    """Persistent Bloom filter with the lake's epoch-commit semantics —
    the membership-set analogue of operators/incremental.py's
    SignatureIndex, kept in per-epoch lockstep with a lake table so
    "have we ever ingested this text?" costs O(new batch) per epoch.

    Because ``bit_or`` is associative AND idempotent, incremental ==
    batch is EXACT: the filter after any sequence of epoch commits (in
    any order, with any duplicate deliveries) is bit-identical to
    ``bloom_build`` over the union of the epochs' values. Duplicate
    epoch delivery is additionally skipped outright (same contract as
    the lake, reference analogue exec/BulkLoader.java:154-159).

    Compliance note: a Bloom filter stores only hash bits — no raw
    values — and CANNOT unlearn (bit_or is monotone), so it has no
    ``purge_ids`` like SignatureIndex/TermIndex. The purge story after
    ``lake.purge_keys`` is a REBUILD from the purged lake (drop the
    index dir, replay the lake's committed epochs through
    ``update_from_lake_epoch``); until then the filter answers
    maybe-present for purged values, which costs a false positive, not
    a data leak.

    Add-only by construction: a delete cannot clear bits shared with
    other members. That errs in the safe direction for dedup (a deleted
    document may still probe "maybe present"; verify-on-positive gives
    ground truth) — callers needing exact deletion semantics rebuild
    from the table, they don't mutate the filter.

    Layout: ``<path>/deltas/epoch=N/*.parquet`` (word, bits), committed
    through operators/incremental.py::EpochDeltas. ``compact()`` folds
    data-bearing deltas into ``<path>/base`` and leaves empty marker
    dirs so the committed-epoch set (and dup-delivery skip) survives;
    ``meta.json`` pins (m_bits, k, salt) — filters from different
    geometries OR into garbage, so mixing is refused.
    """

    def __init__(
        self,
        spark,
        path: str,
        *,
        m_bits: int = 1 << 20,
        k: int = 5,
        salt: str = "bf",
    ) -> None:
        super().__init__(path)
        self.spark = spark
        self.m_bits, self.k, self.salt = m_bits, k, salt
        self._base = os.path.join(path, "base")
        self._pin_meta(
            {"m_bits": m_bits, "k": k, "salt": salt, "word_bits": WORD_BITS},
            "bloom index",
        )

    # ------------------------------------------------------------------
    def _compaction_horizon(self) -> int | None:
        p = os.path.join(self._base, "_horizon.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["folded_upto"]

    def update_epoch(self, changed: DataFrame, value_col: str, epoch: int) -> dict:
        """Commit the epoch's word delta (the Δ values' bloom words only
        — ≤ min(k·Δ, m/63) rows). Duplicate delivery is skipped."""
        if epoch in self.committed_epochs():
            return self._skipped(epoch)
        delta = bloom_build(
            changed, value_col, m_bits=self.m_bits, k=self.k, salt=self.salt
        )
        return self._commit_epoch(
            epoch, lambda scratch: delta.write.mode("overwrite").parquet(scratch)
        )

    def _fold(self, df: DataFrame, epoch: int) -> dict:
        # live texts only: deletes are add-only no-ops (class docstring)
        live = df.filter(~F.col("is_deleted")).select("text")
        return self.update_epoch(live, "text", epoch)

    # ------------------------------------------------------------------
    def filter_words(self, *, as_of_epoch: int | None = None) -> DataFrame:
        """The merged (word, bits) filter — one ``bit_or`` hash agg over
        base + committed deltas, ≤ m/63 rows out regardless of epochs."""
        horizon = self._compaction_horizon()
        if as_of_epoch is not None and horizon is not None and as_of_epoch < horizon:
            raise ValueError(
                f"as_of_epoch={as_of_epoch} predates the compaction "
                f"horizon {horizon} — folded epochs cannot be re-split"
            )
        paths = self._data_dirs(as_of_epoch=as_of_epoch)
        if horizon is not None:
            paths.append(self._base)
        if not paths:
            return self.spark.createDataFrame([], "word long, bits long")
        df = self.spark.read.parquet(*paths)
        return df.groupBy("word").agg(F.bit_or("bits").alias("bits"))

    def probe(
        self,
        candidates: DataFrame,
        value_col: str,
        id_cols: list[str],
        *,
        as_of_epoch: int | None = None,
    ) -> DataFrame:
        return bloom_probe(
            candidates,
            self.filter_words(as_of_epoch=as_of_epoch),
            value_col,
            id_cols,
            m_bits=self.m_bits,
            k=self.k,
            salt=self.salt,
        )

    def compact(self) -> dict:
        """Fold all committed data-bearing deltas into ``base`` (bit_or
        is associative/idempotent, so the merged filter is unchanged —
        pinned by tests). Folded delta dirs become empty markers, so
        committed_epochs()/dup-skip survive; ``as_of_epoch`` below the
        new horizon is refused afterwards."""
        epochs = self.committed_epochs()
        if not epochs:
            return {"folded": 0}
        horizon = max(epochs)
        merged = self.filter_words()
        scratch = os.path.join(self.path, f"_tmp_base_{uuid.uuid4().hex}")
        merged.write.mode("overwrite").parquet(scratch)
        old_base = self._base if os.path.isdir(self._base) else None
        keep = old_base + f".old{uuid.uuid4().hex}" if old_base else None
        if keep:
            os.rename(old_base, keep)
        os.rename(scratch, self._base)
        folded = 0
        for e in epochs:
            d = self._epoch_dir(e)
            if _parquet_files(d):
                shutil.rmtree(d)
                os.makedirs(d, exist_ok=True)
                folded += 1
        if keep:
            shutil.rmtree(keep, ignore_errors=True)
        tmp = os.path.join(self._base, f"_horizon.json.tmp{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"folded_upto": horizon}, f)
        os.rename(tmp, os.path.join(self._base, "_horizon.json"))
        return {"folded": folded, "horizon": horizon}

