"""Incremental Bloom membership index (operators/bloom.py::BloomIndex):
epoch-committed fingerprint whose merged filter must be bit-identical to
a one-shot batch build over the same values (bit_or associativity +
idempotence), with the lake's duplicate-delivery / self-heal / lockstep
contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embulk_spark.operators.bloom import BloomIndex, bloom_build

M, K = 1 << 16, 5


def _epoch_docs(spark, epoch: int, n: int = 40):
    return spark.createDataFrame(
        [(f"doc {epoch}-{i} body text",) for i in range(n)], "text string"
    )


def _words(df) -> dict[int, int]:
    return {r["word"]: r["bits"] for r in df.collect()}


def test_incremental_filter_equals_batch_build(spark, tmp_path):
    idx = BloomIndex(spark, str(tmp_path / "bf"), m_bits=M, k=K)
    all_docs = None
    for e in range(3):
        d = _epoch_docs(spark, e)
        idx.update_epoch(d, "text", e)
        all_docs = d if all_docs is None else all_docs.unionByName(d)
    got = _words(idx.filter_words())
    want = _words(bloom_build(all_docs, "text", m_bits=M, k=K))
    assert got == want  # bit-identical, not just equivalent


def test_duplicate_delivery_and_out_of_order_are_noops(spark, tmp_path):
    idx = BloomIndex(spark, str(tmp_path / "bf"), m_bits=M, k=K)
    idx.update_epoch(_epoch_docs(spark, 1), "text", 1)
    idx.update_epoch(_epoch_docs(spark, 0), "text", 0)  # out of order: fine
    before = _words(idx.filter_words())
    rep = idx.update_epoch(_epoch_docs(spark, 0, n=999), "text", 0)
    assert rep["skipped_duplicate_epoch"]
    assert _words(idx.filter_words()) == before


def test_as_of_epoch_and_empty_epochs(spark, tmp_path):
    idx = BloomIndex(spark, str(tmp_path / "bf"), m_bits=M, k=K)
    idx.update_epoch(_epoch_docs(spark, 0), "text", 0)
    idx.commit_empty_epoch(1)
    idx.update_epoch(_epoch_docs(spark, 2), "text", 2)
    assert idx.committed_epochs() == {0, 1, 2}
    asof1 = _words(idx.filter_words(as_of_epoch=1))
    only0 = _words(bloom_build(_epoch_docs(spark, 0), "text", m_bits=M, k=K))
    assert asof1 == only0


def test_compaction_preserves_filter_exactly(spark, tmp_path):
    idx = BloomIndex(spark, str(tmp_path / "bf"), m_bits=M, k=K)
    for e in range(3):
        idx.update_epoch(_epoch_docs(spark, e), "text", e)
    before = _words(idx.filter_words())
    rep = idx.compact()
    assert rep["folded"] == 3 and rep["horizon"] == 2
    assert _words(idx.filter_words()) == before
    # epoch set survives; duplicate delivery still skipped
    assert idx.committed_epochs() == {0, 1, 2}
    assert idx.update_epoch(_epoch_docs(spark, 0), "text", 0)[
        "skipped_duplicate_epoch"
    ]
    # pre-horizon time travel is refused, at-horizon still works
    with pytest.raises(ValueError, match="compaction"):
        idx.filter_words(as_of_epoch=1)
    assert _words(idx.filter_words(as_of_epoch=2)) == before
    # post-compaction epochs keep composing
    idx.update_epoch(_epoch_docs(spark, 3), "text", 3)
    assert len(_words(idx.filter_words())) >= len(before)


def test_probe_after_reopen_from_disk(spark, tmp_path):
    path = str(tmp_path / "bf")
    idx = BloomIndex(spark, path, m_bits=M, k=K)
    idx.update_epoch(_epoch_docs(spark, 0), "text", 0)
    del idx
    idx2 = BloomIndex(spark, path, m_bits=M, k=K)
    cand = spark.createDataFrame(
        [(1, "doc 0-3 body text"), (2, "never seen text")],
        "id long, text string",
    )
    got = {r.id: r.maybe_present for r in idx2.probe(cand, "text", ["id"]).collect()}
    assert got[1] is True and got[2] is False


def test_geometry_mismatch_refused(spark, tmp_path):
    path = str(tmp_path / "bf")
    BloomIndex(spark, path, m_bits=M, k=K)
    with pytest.raises(ValueError, match="built with"):
        BloomIndex(spark, path, m_bits=M, k=K + 1)


def test_lake_replay_keeps_bloom_in_lockstep(spark, tmp_path):
    """replay_batches(followers=[bloom_index]) leaves every published text
    probing positive (no false negatives on live state), skips committed
    epochs on re-delivery, and self-heals a bloom that fell one epoch
    behind the table."""
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    ev = change_stream(spark, 1500, 200, 3).cache()
    table = ParquetLakeTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    idx = BloomIndex(spark, str(tmp_path / "bf"), m_bits=M, k=K)
    replay_batches(table, ev, max_epochs=2, followers=[idx])
    assert idx.committed_epochs() == {0, 1}

    # crash window: table commits epoch 2 WITHOUT the bloom...
    replay_batches(table, ev)
    assert idx.committed_epochs() == {0, 1}
    # ...resume attached: table skips, bloom self-heals from delta files
    replay_batches(table, ev, followers=[idx])
    assert idx.committed_epochs() == {0, 1, 2}

    pub = table.published().select(
        F.col("url").alias("id"), "text"
    )
    misses = (
        idx.probe(pub, "text", ["id"]).filter(~F.col("maybe_present")).count()
    )
    assert misses == 0


def test_stream_events_keeps_bloom_in_lockstep(spark, tmp_path):
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import stream_events

    events = change_stream(spark, 600, 80, 2, num_partitions=4).cache()
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    events.coalesce(2).write.mode("append").parquet(src)

    table = ParquetLakeTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    idx = BloomIndex(spark, str(tmp_path / "bf"), m_bits=M, k=K)
    stream_events(spark, table, src, ckpt, followers=[idx])
    assert len(idx.committed_epochs()) >= 1

    pub = table.published().select(F.col("url").alias("id"), "text")
    misses = (
        idx.probe(pub, "text", ["id"]).filter(~F.col("maybe_present")).count()
    )
    assert misses == 0
