"""Sharded corpus export (sinks/corpus.py): deterministic shard layout,
manifest audit round-trip, tamper detection, and the no-silent-overwrite
commit contract."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from embulk_spark.sinks.corpus import (
    MANIFEST,
    verify_corpus_shards,
    write_corpus_shards,
)


def _docs(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )


def test_export_layout_and_manifest(spark, tmp_path):
    path = str(tmp_path / "corpus")
    m = write_corpus_shards(_docs(spark), path, n_shards=4)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert dirs == [f"shard={s['shard']}" for s in m["shards"]]
    assert m["total_rows"] == 40
    assert m["total_tokens"] == 40 * 4
    on_disk = json.load(open(os.path.join(path, MANIFEST)))
    assert on_disk == m
    assert verify_corpus_shards(spark, path)["ok"]


def test_export_is_partitioning_invariant(spark, tmp_path):
    a = write_corpus_shards(_docs(spark), str(tmp_path / "a"), n_shards=4)
    b = write_corpus_shards(
        _docs(spark).repartition(7), str(tmp_path / "b"), n_shards=4
    )
    assert a["shards"] == b["shards"]


def test_export_never_overwrites_a_completed_export(spark, tmp_path):
    path = str(tmp_path / "corpus")
    write_corpus_shards(_docs(spark), path, n_shards=2)
    with pytest.raises(FileExistsError):
        write_corpus_shards(_docs(spark), path, n_shards=2)


def test_verify_detects_tamper(spark, tmp_path):
    path = str(tmp_path / "corpus")
    write_corpus_shards(_docs(spark), path, n_shards=2, fmt="parquet")
    # drop one shard's files entirely
    shard_dir = os.path.join(path, "shard=0")
    for f in os.listdir(shard_dir):
        os.remove(os.path.join(shard_dir, f))
    os.rmdir(shard_dir)
    out = verify_corpus_shards(spark, path)
    assert not out["ok"] and out["mismatches"] == [0]


def test_jsonl_format_round_trips(spark, tmp_path):
    path = str(tmp_path / "corpus")
    m = write_corpus_shards(_docs(spark, 10), path, n_shards=2, fmt="json")
    assert m["format"] == "json"
    assert verify_corpus_shards(spark, path)["ok"]
    back = spark.read.json(path)
    assert back.count() == 10 and set(back.columns) >= {"doc_id", "text"}


def test_pipeline_output_corpus_shards(spark, tmp_path):
    from embulk_spark.sinks.files import write_output

    path = str(tmp_path / "out")
    report = write_output(
        _docs(spark, 12),
        {"type": "corpus_shards", "path": path, "n_shards": 3},
    )
    assert report["rows"] == 12 and report["type"] == "corpus_shards"
    assert verify_corpus_shards(spark, path)["ok"]


def test_refresh_equals_from_scratch_export(spark, tmp_path):
    from embulk_spark.sinks.corpus import refresh_corpus_shards

    path = str(tmp_path / "corpus")
    m0 = write_corpus_shards(_docs(spark, 40), path, n_shards=4)
    # change-set: update 3 docs, delete 2, add 5 new
    ups = spark.createDataFrame(
        [(i, f"updated text {i}") for i in (1, 7, 13)]
        + [(100 + i, f"brand new doc {i}") for i in range(5)],
        "doc_id long, text string",
    )
    dels = spark.createDataFrame([(2,), (19,)], "doc_id long")
    m1 = refresh_corpus_shards(spark, path, upserts=ups, deletes=dels)
    assert m1["version"] == 1
    assert m1["total_rows"] == 40 - 2 + 5
    assert verify_corpus_shards(spark, path)["ok"]
    # equal to exporting the final corpus from scratch
    final = (
        _docs(spark, 40)
        .join(ups.select("doc_id"), "doc_id", "left_anti")
        .join(dels, "doc_id", "left_anti")
        .unionByName(ups)
    )
    m_ref = write_corpus_shards(final, str(tmp_path / "ref"), n_shards=4)
    assert m1["shards"] == m_ref["shards"]
    # untouched shards kept byte-identical manifest entries
    touched = {s["shard"] for s in m1["shards"]} - {
        s["shard"] for s in m0["shards"] if s in m1["shards"]
    }
    before = {s["shard"]: s for s in m0["shards"]}
    after = {s["shard"]: s for s in m1["shards"]}
    assert any(before[k] == after[k] for k in before if k in after) or touched


def test_refresh_empties_a_shard(spark, tmp_path):
    import os as _os

    from embulk_spark.sinks.corpus import refresh_corpus_shards, shard_of

    path = str(tmp_path / "corpus")
    docs = _docs(spark, 30)
    write_corpus_shards(docs, path, n_shards=3)
    # delete every doc of shard 1
    victims = docs.withColumn("s", shard_of(F.col("doc_id"), 3)).filter(
        "s = 1"
    ).select("doc_id")
    assert victims.count() > 0
    m = refresh_corpus_shards(spark, path, deletes=victims)
    assert all(s["shard"] != 1 for s in m["shards"])
    assert not _os.path.exists(_os.path.join(path, "shard=1"))
    assert verify_corpus_shards(spark, path)["ok"]


def test_refresh_noop_change_set(spark, tmp_path):
    from embulk_spark.sinks.corpus import refresh_corpus_shards

    path = str(tmp_path / "corpus")
    m0 = write_corpus_shards(_docs(spark, 10), path, n_shards=2)
    m1 = refresh_corpus_shards(spark, path)
    assert m1 == m0


def test_refresh_from_lake_change_feed(spark, tmp_path):
    """E2E CDC lockstep: export the table after epoch 0, fold the epoch-1
    change feed in, and land exactly where a from-scratch export of the
    final table lands."""
    from embulk_spark.sinks.corpus import (
        refresh_from_changes,
        write_corpus_shards,
    )
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    events = change_stream(spark, 3000, 300, 2, num_partitions=4)
    path = str(tmp_path / "lake")
    table = ParquetLakeTable(spark, path, n_buckets=4)
    replay_batches(table, events, max_epochs=1)

    export = str(tmp_path / "export")
    cols = ["url", "warc_ts", "seq", "text"]
    from embulk_spark.sinks.corpus import export_from_lake

    export_from_lake(
        spark, table, export, columns=cols, id_col="url", n_shards=4
    )
    replay_batches(ParquetLakeTable(spark, path, n_buckets=4), events)
    table = ParquetLakeTable(spark, path, n_buckets=4)
    m1 = refresh_from_changes(
        spark, export, table.changes_between(0)
    )
    ref = write_corpus_shards(
        table.published().select(*cols),
        str(tmp_path / "ref"),
        id_col="url",
        n_shards=4,
    )
    assert m1["shards"] == ref["shards"]
    assert verify_corpus_shards(spark, export)["ok"]


def test_refresh_consecutive_feed_ranges(spark, tmp_path):
    """Applying (0,1] then (1,2] lands exactly where a from-scratch
    export of the epoch-2 table lands — tombstones carried across."""
    from embulk_spark.sinks.corpus import (
        export_from_lake,
        refresh_from_changes,
        write_corpus_shards,
    )
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    events = change_stream(spark, 4000, 250, 3, num_partitions=4)
    path = str(tmp_path / "lake")
    table = ParquetLakeTable(spark, path, n_buckets=4)
    replay_batches(table, events, max_epochs=1)

    export = str(tmp_path / "export")
    cols = ["url", "warc_ts", "seq", "text"]
    export_from_lake(spark, table, export, columns=cols, id_col="url",
                     n_shards=4)
    replay_batches(ParquetLakeTable(spark, path, n_buckets=4), events)
    table = ParquetLakeTable(spark, path, n_buckets=4)
    refresh_from_changes(spark, export, table.changes_between(0, 1))
    m2 = refresh_from_changes(spark, export, table.changes_between(1, 2))
    ref = write_corpus_shards(
        table.published().select(*cols), str(tmp_path / "ref"),
        id_col="url", n_shards=4,
    )
    assert m2["shards"] == ref["shards"]
    assert verify_corpus_shards(spark, export)["ok"]


def test_cli_export_and_refresh(tmp_path, capsys, spark):
    """CLI export subcommand: full export of a lake table's published
    state, then an incremental refresh from its change feed."""
    import json as _json

    from embulk_spark.cli import main
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    events = change_stream(spark, 400, 50, 2, num_partitions=2)
    lake = str(tmp_path / "lake")
    table = ParquetLakeTable(spark, lake, n_buckets=4)
    replay_batches(table, events, max_epochs=1)

    export = str(tmp_path / "export")
    assert main(["export", lake, export, "--n-shards", "4"]) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[-1])
    assert out["rows"] > 0 and out["version"] == 0

    replay_batches(ParquetLakeTable(spark, lake, n_buckets=4), events)
    assert main(
        ["export", lake, export, "--refresh-since-epoch", "0"]
    ) == 0
    out = _json.loads(capsys.readouterr().out.splitlines()[-1])
    assert out["version"] >= 1
    assert verify_corpus_shards(spark, export)["ok"]
    final = ParquetLakeTable(spark, lake, n_buckets=4).published().count()
    assert out["rows"] == final


def test_replay_keeps_export_in_lockstep(spark, tmp_path):
    """Attach an export to replay: seeded empty, folded per epoch
    (pipelined), final export == from-scratch export of the final table;
    resume after a lagging sync self-heals."""
    from embulk_spark.sinks.corpus import (
        CorpusExport,
        export_from_lake,
        write_corpus_shards,
    )
    from embulk_spark.sources.events import change_stream
    from embulk_spark.streaming.lake import ParquetLakeTable
    from embulk_spark.streaming.replay import replay_batches

    events = change_stream(spark, 3000, 250, 3, num_partitions=4)
    lake = str(tmp_path / "lake")
    export = str(tmp_path / "export")
    table = ParquetLakeTable(spark, lake, n_buckets=4)
    export_from_lake(spark, table, export, n_shards=4)  # empty seed

    replay_batches(table, events, followers=[CorpusExport(export)],
                   max_epochs=2)
    # crash-sim: table advances one epoch WITHOUT the export...
    replay_batches(ParquetLakeTable(spark, lake, n_buckets=4), events)
    # ...and a re-run with the export attached self-heals the lag
    replay_batches(
        ParquetLakeTable(spark, lake, n_buckets=4), events,
        followers=[CorpusExport(export)],
    )
    table = ParquetLakeTable(spark, lake, n_buckets=4)
    cols = ["url", "warc_ts", "seq", "text"]
    ref = write_corpus_shards(
        table.published().select(*cols), str(tmp_path / "ref"),
        id_col="url", n_shards=4,
    )
    import json as _json
    import os as _os

    from embulk_spark.sinks.corpus import MANIFEST

    got = _json.load(open(_os.path.join(export, MANIFEST)))
    got_shards = [
        {k: s[k] for k in ("shard", "rows", "n_tokens", "content_sum")}
        for s in got["shards"]
    ]
    assert got_shards == ref["shards"]
    assert got["synced_epochs"] == [0, 1, 2]
    assert verify_corpus_shards(spark, export)["ok"]


def test_purge_corpus_keys_removes_rows_and_sidecar_traces(spark, tmp_path):
    """Compliance purge of an export: purged docs leave the shard files
    AND the _tombstones sidecar; untouched shards stay byte-identical."""
    import json as _json
    import os as _os

    from embulk_spark.sinks.corpus import (
        _commit_tombstones,
        purge_corpus_keys,
    )

    path = str(tmp_path / "c")
    write_corpus_shards(_docs(spark, 30), path, n_shards=4)
    # a prior CDC delete left doc 5 recorded in the sidecar
    with open(_os.path.join(path, "_manifest.json")) as f:
        manifest = _json.load(f)
    tomb = spark.createDataFrame([(5, 1), (6, 2)], "doc_id long, seq long")
    _commit_tombstones(spark, path, manifest, tomb, ["seq"])

    m = purge_corpus_keys(spark, path, [5, 7])
    assert m["purged_tombstones"] == 1  # doc 5's sidecar row
    assert verify_corpus_shards(spark, path)["ok"]
    # doc 7's row is out of the corpus
    from embulk_spark.sinks.corpus import _load_export

    left = {r["doc_id"] for r in _load_export(spark, path, m).collect()}
    assert 7 not in left and 5 not in left and len(left) == 28
    # sidecar keeps the unrelated tombstone, loses the purged one
    rel = m["tombstones"]
    side = {r["doc_id"] for r in
            spark.read.parquet(_os.path.join(path, rel)).collect()}
    assert side == {6}
    # no file anywhere under the export still carries the purged text
    needle = b"doc text number 7"
    for root, _d, files in _os.walk(path):
        for fn in files:
            if fn.endswith((".parquet", ".json", ".jsonl")):
                with open(_os.path.join(root, fn), "rb") as f:
                    blob = f.read()
                assert needle not in blob or b"number 17" in blob or b"number 27" in blob
