"""Incremental materialized aggregate view (operators/aggview.py):
epoch-lockstep grouped sums WITH RETRACTIONS — state() must always equal
the batch aggregate over published(), at O(Δ + touched slices) per epoch."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from embulk_spark.operators.aggview import AggView
from embulk_spark.sources.events import change_stream
from embulk_spark.streaming.lake import ParquetLakeTable
from embulk_spark.streaming.replay import replay_batches

SPEC = dict(key_sql="lang", key_name="lang",
            measures={"bytes": "octet_length(html)"})


def _batch_agg(table):
    return {
        (r["lang"], r["n"], r["b"])
        for r in table.published()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.octet_length("html")).alias("b"))
        .collect()
    }


def _view_state(view):
    return {
        (r["lang"], r["n_rows"], r["bytes"]) for r in view.state().collect()
    }


def test_incremental_equals_batch_through_replay(spark, tmp_path):
    events = change_stream(spark, 900, 120, 4, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                             compact_min_deltas=10_000)
    view = AggView(spark, str(tmp_path / "v"), **SPEC)
    replay_batches(table, events, pipeline_depth=1, followers=[view])
    assert view.committed_epochs() == {0, 1, 2, 3}
    assert _view_state(view) == _batch_agg(table)


def test_retractions_and_group_death(spark, tmp_path):
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def ev(seq, op, url, lang, ts_off):
        return (seq, op, url,
                datetime(2024, 1, 1, 0, 0, ts_off, tzinfo=timezone.utc),
                None if op == "D" else b"<p>xx</p>",
                None if op == "D" else lang, None)

    ddl = ("seq long, op string, url string, warc_ts timestamp, "
           "html binary, lang string, schema_change string")
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=2,
                             compact_min_deltas=10_000)
    view = AggView(spark, str(tmp_path / "v"), **SPEC)

    e0 = spark.createDataFrame(
        [ev(1, "I", "u://a", "de", 1), ev(2, "I", "u://b", "de", 2),
         ev(3, "I", "u://c", "fr", 3)], ddl)
    from embulk_spark.streaming.replay import apply_epoch
    m = apply_epoch(table, e0, 0)
    view.update_from_lake_epoch(table, 0, delta_dir=m["delta_dir"])
    assert _view_state(view) == {("de", 2, 18), ("fr", 1, 9)}

    # u://a moves de→fr (retract+add); u://c deleted (fr dies and rebirth)
    e1 = spark.createDataFrame(
        [ev(4, "U", "u://a", "fr", 4), ev(5, "D", "u://c", None, 5)], ddl)
    m = apply_epoch(table, e1, 1)
    view.update_from_lake_epoch(table, 1, delta_dir=m["delta_dir"])
    assert _view_state(view) == {("de", 1, 9), ("fr", 1, 9)}
    assert _view_state(view) == _batch_agg(table)

    # delete the rest of 'de': the group must vanish entirely
    e2 = spark.createDataFrame([ev(6, "D", "u://b", None, 6)], ddl)
    m = apply_epoch(table, e2, 2)
    view.update_from_lake_epoch(table, 2, delta_dir=m["delta_dir"])
    assert {r["lang"] for r in view.state().collect()} == {"fr"}
    assert _view_state(view) == _batch_agg(table)


def test_idempotence_crash_selfheal_and_compact(spark, tmp_path):
    events = change_stream(spark, 600, 100, 3, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                             compact_min_deltas=10_000)
    view = AggView(spark, str(tmp_path / "v"), **SPEC)
    # crash window: table commits epochs 0-2, view only sees 0
    replay_batches(table, events, max_epochs=1, followers=[view])
    replay_batches(table, events)  # table ahead, view behind
    assert view.committed_epochs() == {0}
    # resume with the view attached: self-heal re-syncs 1 and 2
    view2 = AggView(spark, str(tmp_path / "v"), **SPEC)
    replay_batches(table, events, pipeline_depth=1, followers=[view2])
    assert view2.committed_epochs() == {0, 1, 2}
    assert _view_state(view2) == _batch_agg(table)
    # duplicate delivery skips
    assert view2.update_from_lake_epoch(table, 1)["skipped_duplicate_epoch"]
    # compaction folds, state unchanged, markers keep idempotence
    want = _view_state(view2)
    out = view2.compact()
    assert out["folded"] >= 3
    assert _view_state(view2) == want
    assert view2.committed_epochs() == {0, 1, 2}
    assert view2.update_from_lake_epoch(table, 2)["skipped_duplicate_epoch"]


def test_compact_crash_between_fold_and_gc(spark, tmp_path, monkeypatch):
    """Regression: compact() commits the folded state via the
    ``_folded.json`` rename; a crash BEFORE the delta-file GC leaves the
    covered epochs' parquet on disk — state() must not double-count
    them, and a retried compact must complete and clean up."""
    import os as _os

    events = change_stream(spark, 500, 90, 3, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                             compact_min_deltas=10_000)
    view = AggView(spark, str(tmp_path / "v"), **SPEC)
    replay_batches(table, events, pipeline_depth=1, followers=[view])
    want = _view_state(view)

    def boom(path):
        raise OSError(f"simulated crash removing {path}")

    monkeypatch.setattr(_os, "remove", boom)
    with pytest.raises(OSError, match="simulated crash"):
        view.compact()
    monkeypatch.undo()
    # marker committed, epoch parquet still on disk: a fresh handle must
    # read the folded state ONLY (no double-count)
    v2 = AggView(spark, str(tmp_path / "v"), **SPEC)
    assert _view_state(v2) == want
    assert v2.committed_epochs() == {0, 1, 2}
    # retried compact completes: state unchanged, delta parquet GC'd
    v2.compact()
    assert _view_state(v2) == want
    leftovers = [
        f for e in (0, 1, 2)
        for f in _os.listdir(str(tmp_path / "v" / "deltas" / f"epoch={e}"))
        if f.endswith(".parquet")
    ]
    assert leftovers == []


def test_legacy_compact_layout_migrates(spark, tmp_path):
    """Regression: a view compacted by the pre-marker code keeps its
    fold in base/state with NO _folded.json — the new reader must infer
    the legacy fold (covered epochs = dirs whose parquet was GC'd), and
    a re-compact must absorb it, not delete it unread."""
    import os as _os
    import shutil as _sh

    events = change_stream(spark, 500, 90, 3, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                             compact_min_deltas=10_000)
    view = AggView(spark, str(tmp_path / "v"), **SPEC)
    replay_batches(table, events, pipeline_depth=1, followers=[view])
    want = _view_state(view)

    # rebuild the LEGACY on-disk layout by hand: fold → base/state,
    # delete epoch parquet, leave marker dirs, no _folded.json
    base = str(tmp_path / "v" / "base")
    view.state().write.parquet(_os.path.join(base, "state"))
    for e in (0, 1, 2):
        dd = str(tmp_path / "v" / "deltas" / f"epoch={e}")
        for fn in _os.listdir(dd):
            if fn.endswith(".parquet") or fn.startswith("_"):
                _os.remove(_os.path.join(dd, fn))
    marker = _os.path.join(base, "_folded.json")
    if _os.path.exists(marker):
        _os.remove(marker)
    for d in _os.listdir(base):
        if d.startswith("state_"):
            _sh.rmtree(_os.path.join(base, d))

    v2 = AggView(spark, str(tmp_path / "v"), **SPEC)
    assert _view_state(v2) == want  # legacy fold inferred, not lost
    v2.compact()  # migration: absorbs the legacy state, writes a marker
    assert _view_state(v2) == want
    assert _os.path.exists(marker)
    assert not _os.path.isdir(_os.path.join(base, "state"))


def test_rebuild_after_lake_compaction(spark, tmp_path):
    events = change_stream(spark, 600, 100, 3, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                             compact_min_deltas=10_000)
    replay_batches(table, events, pipeline_depth=1)
    # as long as snapshots are retained and orphans uncollected, the view
    # can still sync a folded epoch via time travel
    table.compact()
    v_ok = AggView(spark, str(tmp_path / "v_ok"), **SPEC)
    v_ok.update_from_lake_epoch(table, 1)
    assert 1 in v_ok.committed_epochs()
    # expire history + GC: per-epoch sync becomes impossible → rebuild
    table.expire_snapshots(keep_last=1)
    table.cleanup_orphans(grace_seconds=0.0)
    view = AggView(spark, str(tmp_path / "v"), **SPEC)
    with pytest.raises(ValueError, match="rebuild"):
        view.update_from_lake_epoch(table, 1)
    view.rebuild(table)
    assert _view_state(view) == _batch_agg(table)
    assert view.committed_epochs() == {0, 1, 2}
    # and the view keeps tracking new epochs incrementally afterwards
    more = change_stream(spark, 300, 60, 1, num_partitions=4) \
        .withColumn("seq", F.col("seq") + 70_000)
    from embulk_spark.streaming.replay import apply_epoch
    m = apply_epoch(table, more, 7)
    view.update_from_lake_epoch(table, 7, delta_dir=m["delta_dir"])
    assert _view_state(view) == _batch_agg(table)


def test_spec_pinning(spark, tmp_path):
    AggView(spark, str(tmp_path / "v"), **SPEC)
    with pytest.raises(ValueError, match="was built with"):
        AggView(spark, str(tmp_path / "v"), key_sql="lang", key_name="lang",
                measures={"chars": "length(text)"})


def test_cli_replay_with_agg_view(spark, tmp_path, capsys):
    import json

    from embulk_spark import cli

    ev = change_stream(spark, 400, 80, 2, num_partitions=4)
    ev_dir = str(tmp_path / "ev")
    ev.write.partitionBy("epoch").parquet(ev_dir)
    spec = {"key_sql": "lang", "key_name": "lang",
            "measures": {"bytes": "octet_length(html)"}}
    rc = cli.main([
        "replay", ev_dir, str(tmp_path / "t"), "--buckets", "4",
        "--agg-view", str(tmp_path / "v"),
        "--agg-view-spec", json.dumps(spec),
    ])
    assert rc == 0
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    view = AggView(spark, str(tmp_path / "v"), **spec)
    assert view.committed_epochs() == {0, 1}
    assert _view_state(view) == _batch_agg(table)


def test_streaming_lockstep(spark, tmp_path):
    """stream_events keeps the view in lockstep per micro-batch, across a
    checkpoint restart."""
    from embulk_spark.streaming.replay import stream_events

    events = change_stream(spark, 500, 90, 2, num_partitions=2)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events.filter("epoch = 0").coalesce(1).write.mode("append").parquet(src)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    view = AggView(spark, str(tmp_path / "v"), **SPEC)
    stream_events(spark, table, src, ckpt, followers=[view])
    assert _view_state(view) == _batch_agg(table)

    events.filter("epoch = 1").coalesce(1).write.mode("append").parquet(src)
    stream_events(spark, table, src, ckpt, followers=[view])  # restart
    assert _view_state(view) == _batch_agg(table)
