"""Epoch-follower conformance: every side output that follows the lake
epoch by epoch (SignatureIndex, BloomIndex, TermIndex, AggView,
ChunkStore, CorpusExport) speaks one protocol — duplicate delivery
skips, an epoch the table committed empty gets the follower's empty
marker, a follower behind the table resumes from the snapshot without a
``delta_dir``, and an epoch whose files compaction folded away raises
instead of committing as empty."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from embulk_spark.sources.events import change_stream
from embulk_spark.streaming.lake import ParquetLakeTable
from embulk_spark.streaming.replay import apply_epoch, sync_followers

LAKE_ORDER = dict(id_col="url", id_type="string",
                  order_cols=["warc_ts", "seq"])


def _signature(spark, path, table):
    from embulk_spark.operators.incremental import SignatureIndex

    return SignatureIndex(spark, path, **LAKE_ORDER)


def _bloom(spark, path, table):
    from embulk_spark.operators.bloom import BloomIndex

    return BloomIndex(spark, path)


def _term(spark, path, table):
    from embulk_spark.operators.termindex import TermIndex

    return TermIndex(spark, path, **LAKE_ORDER,
                     order_types=["timestamp", "bigint"])


def _aggview(spark, path, table):
    from embulk_spark.operators.aggview import AggView

    return AggView(spark, path, key_sql="lang", key_name="lang",
                   measures={"bytes": "octet_length(html)"})


def _chunkstore(spark, path, table):
    from embulk_spark.operators.chunkstore import ChunkStore

    return ChunkStore(spark, path)


def _export(spark, path, table):
    from embulk_spark.sinks.corpus import CorpusExport, export_from_lake

    export_from_lake(spark, table, path, n_shards=2)  # empty seed
    return CorpusExport(path)


FOLLOWERS = {
    "signature": _signature,
    "bloom": _bloom,
    "term": _term,
    "aggview": _aggview,
    "chunkstore": _chunkstore,
    "export": _export,
}


@pytest.fixture(scope="module")
def events(spark):
    return change_stream(spark, 240, 40, 3, num_partitions=2).persist()


def _epoch(events, e):
    return events.filter(F.col("epoch") == e)


STEPS = ("syncs", "duplicate_skips", "empty_marker",
         "resumes_from_snapshot", "compacted_epoch_raises")


@pytest.fixture(scope="module")
def protocol(spark, tmp_path_factory, events):
    """Drive ONE table through the protocol's situations with all six
    followers attached (the table-side Spark work runs once); record,
    per follower and step, True if the step held, else what went wrong."""
    root = tmp_path_factory.mktemp("followers")
    table = ParquetLakeTable(spark, str(root / "t"), n_buckets=2,
                             compact_min_deltas=10_000)
    followers = {k: make(spark, str(root / k), table)
                 for k, make in FOLLOWERS.items()}
    seen = {k: {} for k in followers}

    def each(step, check):
        for kind, f in followers.items():
            try:
                seen[kind][step] = check(f)
            except (Exception, pytest.fail.Exception) as exc:  # per follower
                seen[kind][step] = repr(exc)

    m0 = apply_epoch(table, _epoch(events, 0), 0)
    sync_followers(table, list(followers.values()), 0, m0)
    each("syncs", lambda f: f.committed_epochs() == {0})
    each("duplicate_skips", lambda f: f.update_from_lake_epoch(
        table, 0, delta_dir=m0["delta_dir"])["skipped_duplicate_epoch"])
    rows_before = followers["export"]._manifest()["total_rows"]

    # an epoch the table committed empty: the follower's empty marker,
    # also when it is recovered from the snapshot (no delta_dir)
    assert apply_epoch(table, events.limit(0), 1).get("empty_batch")

    def empty_marker(f):
        r = f.update_from_lake_epoch(table, 1)
        if hasattr(f, "_epoch_dir"):  # the shared layout: a bare epoch dir
            bare = not any(n.endswith(".parquet")
                           for n in os.listdir(f._epoch_dir(1)))
        else:  # the export: the cursor advances, no shard is rewritten
            bare = f._manifest()["total_rows"] == rows_before
        return (not r["skipped_duplicate_epoch"] and bare
                and f.committed_epochs() == {0, 1})

    each("empty_marker", empty_marker)

    # crash window: the table commits, the followers do not — resume
    # finds the epoch's files in the snapshot
    apply_epoch(table, _epoch(events, 1), 2)

    def resumes(f):
        r = f.update_from_lake_epoch(table, 2)
        return (not r["skipped_duplicate_epoch"] and not r.get("empty")
                and f.committed_epochs() == {0, 1, 2})

    each("resumes_from_snapshot", resumes)

    # the same window, but compaction folded the epoch before the resume:
    # it cannot be recovered and must not commit as empty. (AggView reads
    # the epoch's committing snapshot by time travel, so for it the epoch
    # is lost only once that snapshot expires — expire for every kind.)
    apply_epoch(table, _epoch(events, 2), 3)
    table.compact()
    table.expire_snapshots(keep_last=1)

    def compacted_raises(f):
        with pytest.raises(ValueError, match="compacted|expired"):
            f.update_from_lake_epoch(table, 3)
        return f.committed_epochs() == {0, 1, 2}

    each("compacted_epoch_raises", compacted_raises)
    return seen


@pytest.mark.parametrize("kind", sorted(FOLLOWERS))
def test_follower_protocol(protocol, kind):
    """Duplicate delivery skips; an epoch committed empty gets the empty
    marker; a follower behind the table resumes through the snapshot;
    an epoch compaction folded away raises instead of committing."""
    assert protocol[kind] == dict.fromkeys(STEPS, True)


def test_crashed_purge_swap_heals_on_open(spark, tmp_path):
    """A crash between the two renames of purge_epoch_dirs' dir swap
    leaves ``epoch=N`` missing, with only its ``.old<hex>`` sibling (plus
    the filtered ``.purge<hex>`` copy once that was complete). Opening
    the index puts the epoch back, rolled back to the old rows or forward
    to the purged ones, so its rows stay readable; a handle opened before
    the crash reads the epoch as uncommitted instead of choking."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_spark.operators.incremental import SignatureIndex

    def write_epoch(d, ids):  # a committed signature delta, written as-is
        os.makedirs(d)
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "sig": pa.array([[i] * 4 for i in ids], pa.list_(pa.int64())),
        }), os.path.join(d, "part-0.parquet"))

    def ids(index):
        return {r.doc_id for r in index.signatures().collect()}

    path = str(tmp_path / "si")
    f = SignatureIndex(spark, path)
    write_epoch(f._epoch_dir(3), [1, 2])
    write_epoch(f._epoch_dir(4), [3])

    # crash before the filtered copy was complete: roll back
    os.rename(f._epoch_dir(3), f._epoch_dir(3) + ".old0123abcd")
    assert f.committed_epochs() == {4}
    f = SignatureIndex(spark, path)
    assert f.committed_epochs() == {3, 4}
    assert ids(f) == {1, 2, 3}

    # crash after it: roll forward to the purged rows
    os.rename(f._epoch_dir(3), f._epoch_dir(3) + ".old4567cdef")
    write_epoch(f._epoch_dir(3) + ".purge89abcdef", [1])  # doc 2 purged
    f = SignatureIndex(spark, path)
    assert sorted(os.listdir(f._deltas)) == ["epoch=3", "epoch=4"]
    assert ids(f) == {1, 3}


@pytest.mark.parametrize("extra", [
    ["--checkpoint", "ck", "--source-format", "debezium",
     "--signature-index", "si"],
    ["--checkpoint", "ck", "--source-format", "warc", "--export", "ex"],
    ["--checkpoint", "ck", "--source-format", "maxwell", "--wap-rules", "[]"],
    ["--route", "{}", "--bloom-index", "bi"],
    ["--route", "{}", "--wap-rules", "[]"],
    ["--source-format", "canal"],
    ["--route-catalog", "cat"],
    ["--agg-view", "av"],
    ["--checkpoint", "ck", "--max-epochs", "1"],
    ["--txn-align"],
])
def test_cli_replay_refuses_flags_the_surface_ignores(tmp_path, capsys, extra):
    from embulk_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(["replay", str(tmp_path / "ev"), str(tmp_path / "t"), *extra])
    assert exc.value.code == 2
    assert "error:" in capsys.readouterr().err


def test_cli_streaming_replay_keeps_export_in_lockstep(spark, tmp_path, capsys,
                                                       events):
    """``--export`` with ``--checkpoint`` folds every micro-batch into the
    export (the flag used to be dropped on the streaming surface)."""
    from embulk_spark.cli import main
    from embulk_spark.sinks.corpus import CorpusExport

    src = str(tmp_path / "events")
    events.coalesce(1).write.parquet(src)
    lake, export = str(tmp_path / "t"), str(tmp_path / "export")
    assert main(["replay", src, lake, "--buckets", "2",
                 "--checkpoint", str(tmp_path / "ck"),
                 "--export", export]) == 0
    table = ParquetLakeTable(spark, lake, n_buckets=2)
    f = CorpusExport(export)
    assert table.committed_epochs()
    assert f.committed_epochs() == table.committed_epochs()
    assert f._manifest()["total_rows"] == table.published().count()
