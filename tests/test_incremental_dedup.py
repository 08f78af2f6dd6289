"""Incremental MinHash signature index (operators/incremental.py):
epoch-committed signature maintenance whose unioned per-epoch near-dup
reports must equal the batch minhash_near_dups pair set, with the same
idempotent-duplicate-delivery and resume-from-disk contract as the lake.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embulk_spark.operators.dedup import minhash_near_dups
from embulk_spark.operators.incremental import SignatureIndex

K, BANDS, THRESH = 16, 4, 0.7


def _docs(spark):
    """30 docs in 3 epochs with planted near-dup clusters that straddle
    epoch boundaries (suffix tweak keeps most shingles shared)."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest chasing rabbits all day long"
    )
    rows = []
    for i in range(30):
        if i % 5 == 0:
            text = base + f" variant tail {i % 3}"  # clusters across epochs
        else:
            text = f"wholly unique document number {i} " + " ".join(
                f"tok{i}_{j}" for j in range(25)
            )
        rows.append((i, text, i % 3))
    return spark.createDataFrame(rows, "doc_id long, text string, epoch int")


@pytest.fixture()
def docs(spark):
    return _docs(spark)


def _incremental_pairs(spark, docs, path):
    idx = SignatureIndex(spark, path, k=K, bands=BANDS)
    pairs = []
    for e in range(3):
        idx.update_epoch(docs.filter(F.col("epoch") == e), "text", e)
        pairs.append(idx.near_dups_for_epoch(e, threshold=THRESH))
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return {
        (r["id_a"], r["id_b"], r["jaccard_est"]) for r in out.distinct().collect()
    }


def test_incremental_equals_batch(spark, docs, tmp_path):
    got = _incremental_pairs(spark, docs, str(tmp_path / "sigidx"))
    want = {
        (r["id_a"], r["id_b"], r["jaccard_est"])
        for r in minhash_near_dups(
            docs, "text", "doc_id", k=K, bands=BANDS, threshold=THRESH
        ).collect()
    }
    assert want, "fixture must plant at least one near-dup pair"
    assert got == want


def test_duplicate_epoch_delivery_skipped(spark, docs, tmp_path):
    idx = SignatureIndex(spark, str(tmp_path / "sigidx"), k=K, bands=BANDS)
    e0 = docs.filter("epoch = 0")
    assert idx.update_epoch(e0, "text", 0)["skipped_duplicate_epoch"] is False
    n = idx.signatures().count()
    # redelivery (same epoch, even different content) must be a no-op
    assert idx.update_epoch(docs, "text", 0)["skipped_duplicate_epoch"] is True
    assert idx.signatures().count() == n


def test_update_supersedes_and_tombstones(spark, docs, tmp_path):
    idx = SignatureIndex(spark, str(tmp_path / "sigidx"), k=K, bands=BANDS)
    idx.update_epoch(docs.filter("epoch = 0"), "text", 0)
    sig0 = {r["doc_id"]: r["sig"] for r in idx.signatures().collect()}
    # epoch 1: doc 0 rewritten, doc 3 deleted
    changed = spark.createDataFrame(
        [(0, "completely different text " + " ".join(f"x{j}" for j in range(25)))],
        "doc_id long, text string",
    )
    deleted = spark.createDataFrame([(3,)], "doc_id long")
    idx.update_epoch(changed, "text", 1, deleted_ids=deleted)
    sig1 = {r["doc_id"]: r["sig"] for r in idx.signatures().collect()}
    assert sig1[0] != sig0[0]          # superseded
    assert 3 not in sig1 and 3 in sig0  # tombstoned
    assert sig1.keys() == (sig0.keys() - {3}) and all(
        sig1[i] == sig0[i] for i in sig1 if i != 0
    )
    # as-of read still reconstructs the old state
    as_of = {r["doc_id"]: r["sig"] for r in idx.signatures(as_of_epoch=0).collect()}
    assert as_of == sig0


def test_resume_from_disk(spark, docs, tmp_path):
    path = str(tmp_path / "sigidx")
    idx = SignatureIndex(spark, path, k=K, bands=BANDS)
    idx.update_epoch(docs.filter("epoch = 0"), "text", 0)
    # fresh handle (simulated restart) sees the committed epoch and skips it
    idx2 = SignatureIndex(spark, path, k=K, bands=BANDS)
    assert idx2.committed_epochs() == {0}
    assert idx2.update_epoch(docs, "text", 0)["skipped_duplicate_epoch"] is True
    # reopening with different parameters must refuse (permutation family)
    with pytest.raises(ValueError):
        SignatureIndex(spark, path, k=32, bands=BANDS)


def test_lake_replay_keeps_index_in_lockstep(spark, tmp_path):
    """replay_batches(followers=[signature_index]) must leave the index equal to a
    batch recompute over the table's published state, and heal an index
    that fell one epoch behind (crash between table and index commits)."""
    from embulk_spark.operators.dedup import minhash_df
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    ev = change_stream(spark, 1500, 200, 3).cache()
    table = ParquetLakeTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    idx = SignatureIndex(
        spark, str(tmp_path / "sigidx"), id_col="url", id_type="string", k=K, bands=BANDS,
        order_cols=["warc_ts", "seq"],
    )
    replay_batches(table, ev, max_epochs=2, followers=[idx])
    assert idx.committed_epochs() == {0, 1}

    def batch_equiv():
        pub = table.published().select("url", "text")
        want = {
            (r["url"], tuple(r["sig"]))
            for r in minhash_df(pub, "text", "url", K).collect()
        }
        got = {(r["url"], tuple(r["sig"])) for r in idx.signatures().collect()}
        assert got == want

    batch_equiv()

    # crash window: table commits epoch 2 WITHOUT the index...
    replay_batches(table, ev)
    assert idx.committed_epochs() == {0, 1}
    # ...resume with the index attached: table skips, index self-heals
    # from the snapshot's delta files
    replay_batches(table, ev, followers=[idx])
    assert idx.committed_epochs() == {0, 1, 2}
    batch_equiv()


def test_stream_events_keeps_index_in_lockstep(spark, tmp_path):
    """The Structured-Streaming surface maintains the index across a
    stop/restart exactly like batch replay: after both stream runs the
    index equals a batch recompute over the streamed table's state."""
    from embulk_spark.operators.dedup import minhash_df
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import stream_events

    events = change_stream(spark, 600, 80, 3, num_partitions=4).cache()
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    events.filter("epoch = 0").coalesce(1).write.mode("append").parquet(src)

    table = ParquetLakeTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    idx = SignatureIndex(
        spark, str(tmp_path / "sigidx"), id_col="url", id_type="string", k=K, bands=BANDS,
        order_cols=["warc_ts", "seq"],
    )
    stream_events(spark, table, src, ckpt, followers=[idx])
    assert len(idx.committed_epochs()) >= 1

    events.filter("epoch > 0").coalesce(2).write.mode("append").parquet(src)
    stream_events(spark, table, src, ckpt, followers=[idx])

    pub = table.published().select("url", "text")
    want = {
        (r["url"], tuple(r["sig"]))
        for r in minhash_df(pub, "text", "url", K).collect()
    }
    got = {(r["url"], tuple(r["sig"])) for r in idx.signatures().collect()}
    assert got == want


def test_meta_pins_permutation_family(spark, tmp_path):
    """An index persisted under a different minhash permutation family must
    refuse to open: old-family deltas band-hash to disjoint buckets and
    would silently miss every near-dup pair."""
    import json
    import os

    import pytest

    from embulk_spark.operators.incremental import SignatureIndex

    p = str(tmp_path / "idx")
    SignatureIndex(spark, p, id_col="doc_id")
    meta_path = os.path.join(p, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["minhash_family"][0] == 4294967311  # current P, pinned
    meta["minhash_family"] = [2305843009213693951, [1], [0]]  # old family
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="built with"):
        SignatureIndex(spark, p, id_col="doc_id")


def test_probe_before_any_data_bearing_epoch(spark, tmp_path):
    """An index whose only committed epoch is empty must answer the probe
    with a typed empty pair frame (not raise), and unions with later
    data-bearing epochs keep a consistent schema."""
    idx = SignatureIndex(spark, str(tmp_path / "idx"), k=K, bands=BANDS)
    idx.commit_empty_epoch(0)
    p0 = idx.near_dups_for_epoch(0, threshold=THRESH)
    assert p0.count() == 0

    docs = _docs(spark)
    idx.update_epoch(docs.filter(F.col("epoch") <= 1), "text", 1)
    p1 = idx.near_dups_for_epoch(1, threshold=THRESH)
    both = p0.unionByName(p1)  # schema-compatible with the typed empty
    assert both.count() == p1.count() > 0


def test_update_epoch_rejects_mismatched_id_type(spark, tmp_path):
    import pytest

    idx = SignatureIndex(spark, str(tmp_path / "idx"), k=K, bands=BANDS)
    docs = spark.createDataFrame(
        [("a", "one two three four five")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="id_type"):
        idx.update_epoch(docs, "text", 0)
