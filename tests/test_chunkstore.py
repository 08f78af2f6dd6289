"""Incremental content-addressed chunk store (operators/chunkstore.py):
incremental == batch, idempotent epoch commits, resume."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from embulk_spark.operators.chunkstore import ChunkStore
from embulk_spark.operators.cdchunk import chunk_documents


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _mk_corpus(n=30, seed=21):
    rng = random.Random(seed)
    shared = "".join(rng.choice("abcdefgh ") for _ in range(1500))
    rows = []
    for i in range(n):
        own = "".join(rng.choice("ijklmnop ") for _ in range(300))
        rows.append((i, shared + own if i % 3 else own))
    return rows


def test_incremental_equals_batch(spark, tmp_path):
    rows = _mk_corpus()
    store = ChunkStore(spark, str(tmp_path / "cs"))
    for e in range(4):
        store.ingest_epoch(
            _docs(spark, [r for r in rows if r[0] % 4 == e]), e
        )
    stored = {r.chunk_md5 for r in store.chunks().collect()}
    batch = {
        r.chunk_md5
        for r in chunk_documents(_docs(spark, rows)).collect()
    }
    assert stored == batch
    # hashes are unique across the whole store (novel-only commits)
    assert store.chunks().count() == len(stored)


def test_epoch_metrics_account_for_sharing(spark, tmp_path):
    rows = _mk_corpus()
    store = ChunkStore(spark, str(tmp_path / "cs"))
    m0 = store.ingest_epoch(
        _docs(spark, [r for r in rows if r[0] % 4 == 0]), 0
    )
    m1 = store.ingest_epoch(
        _docs(spark, [r for r in rows if r[0] % 4 == 1]), 1
    )
    assert m0["chunks_seen"] == m0["new_chunks"] + m0["dup_chunks"]
    assert m1["chunks_seen"] == m1["new_chunks"] + m1["dup_chunks"]
    # the shared prefix was stored in epoch 0 → epoch 1 dedups heavily
    assert m1["dup_chunks"] > 0
    assert m1["new_chunks"] < m1["chunks_seen"]


def test_duplicate_delivery_skipped(spark, tmp_path):
    rows = _mk_corpus(12)
    store = ChunkStore(spark, str(tmp_path / "cs"))
    m = store.ingest_epoch(_docs(spark, rows), 0)
    assert not m["skipped_duplicate_epoch"]
    n_before = store.chunks().count()
    m2 = store.ingest_epoch(_docs(spark, rows), 0)
    assert m2["skipped_duplicate_epoch"]
    assert {k: m2[k] for k in ("chunks_seen", "new_chunks")} == {
        k: m[k] for k in ("chunks_seen", "new_chunks")
    }
    assert store.chunks().count() == n_before


def test_resume_from_fresh_handle(spark, tmp_path):
    rows = _mk_corpus()
    p = str(tmp_path / "cs")
    s1 = ChunkStore(spark, p)
    s1.ingest_epoch(_docs(spark, [r for r in rows if r[0] % 2 == 0]), 0)
    # crash: new handle over the same path resumes where it left off
    s2 = ChunkStore(spark, p)
    assert s2.committed_epochs() == {0}
    s2.ingest_epoch(_docs(spark, [r for r in rows if r[0] % 2 == 1]), 1)
    stored = {r.chunk_md5 for r in s2.chunks().collect()}
    batch = {
        r.chunk_md5
        for r in chunk_documents(_docs(spark, rows)).collect()
    }
    assert stored == batch


def test_cut_rule_mismatch_refused(tmp_path):
    """Reopening a store with another window/divisor/salt raises: later
    epochs would cut with a different rule and never share hashes."""
    p = str(tmp_path / "cs")
    ChunkStore(None, p, window=16)
    ChunkStore(None, p, window=16)  # same rule reopens
    for kw in ({"window": 8}, {"divisor": 32}, {"salt": "x:"}):
        with pytest.raises(ValueError, match="built with"):
            ChunkStore(None, p, **kw)


def test_as_of_epoch_read(spark, tmp_path):
    rows = _mk_corpus()
    store = ChunkStore(spark, str(tmp_path / "cs"))
    for e in range(3):
        store.ingest_epoch(
            _docs(spark, [r for r in rows if r[0] % 3 == e]), e
        )
    e0 = store.chunks(as_of_epoch=0)
    assert set(r.epoch for r in e0.collect()) == {0}
    assert e0.count() < store.chunks().count()


def test_ingest_from_lake_epochs(spark, tmp_path):
    from datetime import datetime, timezone

    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import apply_epoch

    ddl = ("seq long, op string, url string, warc_ts timestamp, "
           "html binary, text string, lang string, schema_change string")

    def ev(seq, op, url, text, s):
        return (seq, op, url,
                datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc),
                None if op == "D" else f"<p>{text}</p>".encode(),
                None if op == "D" else text,
                None if op == "D" else "en", None)

    import random
    rng = random.Random(31)
    blk = "".join(rng.choice("abcdefgh ") for _ in range(900))
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=2,
                             compact_min_deltas=10_000)
    store = ChunkStore(spark, str(tmp_path / "cs"))

    e0 = spark.createDataFrame(
        [ev(1, "I", "u://a", blk + "one", 1),
         ev(2, "I", "u://b", blk + "two", 2)], ddl)
    m0 = apply_epoch(table, e0, 0)
    r0 = store.update_from_lake_epoch(table, 0, delta_dir=m0["delta_dir"])
    assert r0["new_chunks"] > 0 and r0["dup_chunks"] > 0  # shared blk dedups

    # epoch 1: update a (mostly same bytes) + delete b (ignored by store)
    e1 = spark.createDataFrame(
        [ev(3, "U", "u://a", blk + "one EDIT", 3),
         ev(4, "D", "u://b", None, 4)], ddl)
    m1 = apply_epoch(table, e1, 1)
    r1 = store.update_from_lake_epoch(table, 1, delta_dir=m1["delta_dir"])
    assert r1["dup_chunks"] > r1["new_chunks"]  # re-crawl mostly dedups

    # duplicate delivery of epoch 1 is a recorded no-op
    r1b = store.update_from_lake_epoch(table, 1, delta_dir=m1["delta_dir"])
    assert r1b["skipped_duplicate_epoch"]
    assert r1b["new_chunks"] == r1["new_chunks"]

    # store == union of the deltas' LIVE text chunks (the lake
    # re-extracts text from html at apply time, so read what the
    # deltas actually carry rather than the fixture's input text)
    import os
    live = None
    for m in (m0, m1):
        d = (spark.read.parquet(os.path.join(table.path, m["delta_dir"]))
             .filter(~F.col("is_deleted"))
             .select(F.col("url").alias("doc_id"), "text"))
        live = d if live is None else live.unionByName(d)
    want = {r.chunk_md5 for r in chunk_documents(live).collect()}
    assert {r.chunk_md5 for r in store.chunks().collect()} == want


def test_ingest_from_lake_snapshot_recovery(spark, tmp_path):
    # no delta_dir passed: files recover from the snapshot's delta groups
    from datetime import datetime, timezone

    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import apply_epoch

    ddl = ("seq long, op string, url string, warc_ts timestamp, "
           "html binary, text string, lang string, schema_change string")
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=2,
                             compact_min_deltas=10_000)
    e0 = spark.createDataFrame(
        [(1, "I", "u://a",
          datetime(2024, 1, 1, tzinfo=timezone.utc), b"x", "hello world " * 30,
          "en", None)], ddl)
    apply_epoch(table, e0, 0)
    store = ChunkStore(spark, str(tmp_path / "cs"))
    r = store.update_from_lake_epoch(table, 0)
    assert r["new_chunks"] >= 1
    assert store.committed_epochs() == {0}


def test_crash_sweep_ingest_commits(spark, tmp_path):
    """Sweep a hard crash through every python-level fs mutation of a
    2-epoch ingest (parquet-write/metrics/rename lattice): after any
    crash, a FRESH handle re-running the same sequence reaches the
    uninterrupted run's exact chunk set and metrics."""
    from test_crash_fuzz import FsCrashInjector, InjectedCrash

    rows = _mk_corpus(16, seed=41)
    halves = [
        [r for r in rows if r[0] % 2 == 0],
        [r for r in rows if r[0] % 2 == 1],
    ]

    def run(store):
        out = []
        for e in (0, 1):
            out.append(store.ingest_epoch(_docs(spark, halves[e]), e))
        return out

    ref_store = ChunkStore(spark, str(tmp_path / "ref"))
    ref_metrics = run(ref_store)
    ref_set = {r.chunk_md5 for r in ref_store.chunks().collect()}

    k = 0
    exercised = 0
    while True:
        p = str(tmp_path / f"cs_k{k}")
        crashed = False
        with FsCrashInjector(k):
            try:
                run(ChunkStore(spark, p))
            except InjectedCrash:
                crashed = True
        if not crashed:
            break  # k beyond the sequence's fs ops: clean run
        exercised += 1
        # recovery: fresh handle, full redelivery
        store2 = ChunkStore(spark, p)
        got_metrics = run(store2)
        assert {r.chunk_md5 for r in store2.chunks().collect()} == ref_set, k
        for g, r in zip(got_metrics, ref_metrics):
            assert g["new_chunks"] == r["new_chunks"], k
            assert g["chunks_seen"] == r["chunks_seen"], k
        k += 1
    assert exercised >= 3  # the commit lattice was actually swept


def test_replay_lockstep_and_self_heal(spark, tmp_path):
    """replay_batches(followers=[chunk_store]) keeps the store in epoch
    lockstep with the table, and a store that fell behind (crash
    between the two commits) self-heals on the next replay."""
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    events = change_stream(spark, 400, 80, 3, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                             compact_min_deltas=10_000)
    store = ChunkStore(spark, str(tmp_path / "cs"))
    replay_batches(table, events, pipeline_depth=1, followers=[store])
    assert store.committed_epochs() == {0, 1, 2}
    n_before = store.chunks().count()
    assert n_before > 0

    # simulate the crash window: drop the store's last epoch — the
    # table is ahead; replay must revisit epoch 2 for the store only
    import shutil as sh
    sh.rmtree(str(tmp_path / "cs" / "deltas" / "epoch=2"))
    assert store.committed_epochs() == {0, 1}
    replay_batches(table, events, pipeline_depth=1, followers=[store])
    assert store.committed_epochs() == {0, 1, 2}
    assert store.chunks().count() == n_before

    # full redelivery is a no-op
    replay_batches(table, events, pipeline_depth=1, followers=[store])
    assert store.chunks().count() == n_before
