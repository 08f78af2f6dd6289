"""Partial (hot-bucket) compaction: fold deltas into only the buckets
where they concentrate, carry the cold base forward by reference, rewrite
the cold delta remainder as one residual group.

Iceberg analogue: ``rewrite_data_files`` with a partition filter. The
reference's maintenance analogue is the cleanup/retry machinery around
transactional output (exec/BulkLoader.java:471-505); the per-bucket cost
bound is ours — at 10^10 events the base cannot be rewritten per fold."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from embulk_spark.operators.merge import dedup_latest
from embulk_spark.sources.events import change_stream
from embulk_spark.streaming.lake import ParquetLakeTable
from embulk_spark.streaming.replay import apply_epoch, replay_batches


def _table(spark, path, n_epochs=3, n_buckets=4):
    events = change_stream(spark, 900, 120, n_epochs, num_partitions=4)
    table = ParquetLakeTable(
        spark, path, n_buckets=n_buckets, compact_min_deltas=10_000
    )
    replay_batches(table, events, pipeline_depth=1)
    return table, events


def _base_paths(table, buckets):
    snap = table.current_snapshot()
    return {
        b: tuple(snap["base"].get(str(b), {}).get("files", ()))
        for b in buckets
    }


def test_partial_fold_preserves_state_and_cold_files(spark, tmp_path):
    table, _ = _table(spark, str(tmp_path / "t"))
    table.compact()  # establish a base in every bucket
    events2 = change_stream(spark, 400, 60, 5, num_partitions=4)
    for e in range(3, 5):
        apply_epoch(table, events2.filter(F.col("epoch") == e - 3), e)

    want = {(r.url, r.seq) for r in table.published().collect()}
    cold_before = _base_paths(table, [2, 3])
    n_deltas = len(table.current_snapshot()["deltas"])
    assert n_deltas >= 2

    out = table.compact(buckets=[0, 1])
    assert out["partial"] and out["buckets_folded"] == [0, 1]
    assert out["deltas_folded"] == n_deltas

    snap = table.current_snapshot()
    # cold base buckets carried forward by reference: same file paths
    assert _base_paths(table, [2, 3]) == cold_before
    # the folded epochs' groups are gone; one residual group remains
    resid = [d for d in snap["deltas"] if d.get("epoch_id") is None]
    assert len(resid) == 1 and resid[0]["rows"] == out["residual_rows"]
    assert resid[0]["folded_epochs"] == [3, 4]
    # hot buckets hold one row per url now (base semantics)
    hot = table.read(buckets=[0, 1])
    assert hot.count() == hot.select("url").distinct().count()
    # and the user-facing state is unchanged
    assert {(r.url, r.seq) for r in table.published().collect()} == want


@pytest.fixture(scope="module")
def folded(spark, tmp_path_factory):
    """A table whose pending epochs went through one all-bucket fold."""
    table, _ = _table(spark, str(tmp_path_factory.mktemp("folded") / "t"))
    want = {(r.url, r.seq) for r in table.published().collect()}
    return table, table.compact(), want


def test_all_bucket_fold_writes_no_residual(folded):
    table, out, want = folded
    assert out["buckets_folded"] == [0, 1, 2, 3]
    assert out["residual_rows"] == 0 and out["deltas_folded"] == 3
    assert table.current_snapshot()["deltas"] == []
    data = os.listdir(os.path.join(table.path, "data"))
    assert not [d for d in data if d.startswith("resid_")]
    assert {(r.url, r.seq) for r in table.published().collect()} == want


def test_fold_without_deltas_relays_out_base(folded):
    """compact() on a fully compacted table still rewrites the base, so
    a new target_file_bytes takes effect."""
    table, _, want = folded
    before = [f for e in table.current_snapshot()["base"].values()
              for f in e["files"]]
    table.set_properties(target_file_bytes=4 * 1024)
    out = table.compact()
    assert out["deltas_folded"] == 0 and not out.get("noop")
    after = [f for e in table.current_snapshot()["base"].values()
             for f in e["files"]]
    assert len(after) > len(before) and not set(after) & set(before)
    assert {(r.url, r.seq) for r in table.published().collect()} == want


def test_residual_resolves_against_later_epochs(spark, tmp_path):
    """A residual row must lose to a NEWER event for the same url arriving
    after the partial compaction (event order, not arrival order)."""
    table, events = _table(spark, str(tmp_path / "t"), n_epochs=2)
    table.compact(buckets=[0])  # every url in buckets 1-3 → residual
    # disjoint seq range: no (url, warc_ts, seq) ties across the streams
    events2 = change_stream(spark, 400, 60, 3, num_partitions=4).withColumn(
        "seq", F.col("seq") + 100_000
    )
    for e in range(2, 5):
        apply_epoch(table, events2.filter(F.col("epoch") == e - 2), e)

    both = events.unionByName(events2.withColumn("epoch", F.col("epoch") + 2))
    want = (
        dedup_latest(both.select("url", "warc_ts", "seq", "op"))
        .filter(F.col("op") != "D")
    )
    got = table.published()
    assert got.count() == want.count()
    assert (
        got.select("url", "seq").exceptAll(want.select("url", "seq")).count()
        == 0
    )


def test_feed_cursor_too_old_after_partial_compact(spark, tmp_path):
    table, _ = _table(spark, str(tmp_path / "t"), n_epochs=3)
    # feed works before the fold
    assert table.changes_between(0, 2).count() > 0
    table.compact(buckets=[1])
    # folded epochs left the serving range — cursor too old
    with pytest.raises(ValueError, match="compacted into the base"):
        table.changes_between(0, 2)
    # the feed resumes cleanly for post-compaction epochs
    events2 = change_stream(spark, 300, 50, 1, num_partitions=4)
    apply_epoch(table, events2, 3)
    feed = table.changes_between(2)
    assert feed.count() > 0


def test_feed_served_from_residual_when_range_covers_fold(spark, tmp_path):
    """A cursor OLDER than every folded epoch is still exactly servable:
    the residual group holds the folded epochs' per-url net winners, so
    a range that fully covers the folded set reads them from it."""
    table, _ = _table(spark, str(tmp_path / "t"), n_epochs=3)
    want = {
        (r.url, r.seq, r.is_deleted)
        for r in table.changes_between(-1).collect()
    }
    table.compact(buckets=[])  # binpack: epochs 0-2 → one residual group
    got = {
        (r.url, r.seq, r.is_deleted)
        for r in table.changes_between(-1).collect()
    }
    assert got == want
    # a PARTIALLY covered range must still refuse (it would re-deliver
    # epoch 0's winners to a cursor that already consumed them)
    with pytest.raises(ValueError, match="compacted into the base"):
        table.changes_between(0)
    # and the residual composes with later per-epoch groups
    events2 = change_stream(spark, 300, 50, 1, num_partitions=4).withColumn(
        "seq", F.col("seq") + 200_000
    )
    apply_epoch(table, events2, 3)
    feed = table.changes_between(-1)
    ctl = ParquetLakeTable(
        spark, str(tmp_path / "ctl"), n_buckets=4, compact_min_deltas=10_000
    )
    events = change_stream(spark, 900, 120, 3, num_partitions=4)
    replay_batches(ctl, events, pipeline_depth=1)
    apply_epoch(ctl, events2, 3)
    assert {
        (r.url, r.seq, r.is_deleted) for r in feed.collect()
    } == {
        (r.url, r.seq, r.is_deleted)
        for r in ctl.changes_between(-1).collect()
    }


def test_hot_fold_residual_never_serves_the_feed(spark, tmp_path):
    """Regression: a residual produced by a fold with non-empty hot
    buckets is missing those buckets' winners (they went to the base) —
    it must NOT serve the feed even for a fully covering range; the
    consumer gets cursor-too-old (→ full refresh), never silent loss."""
    table, _ = _table(spark, str(tmp_path / "t"), n_epochs=3)
    hot_b = int(table.read().select("bkt").first()["bkt"])
    out = table.compact(buckets=[hot_b])
    assert out["residual_rows"] > 0  # a residual exists…
    with pytest.raises(ValueError, match="compacted into the base"):
        table.changes_between(-1)  # …but is not feed-servable
    # and a later binpack absorbing it stays non-servable (the missing
    # hot rows never come back)
    events2 = change_stream(spark, 300, 50, 1, num_partitions=4).withColumn(
        "seq", F.col("seq") + 300_000
    )
    apply_epoch(table, events2, 3)
    table.compact(buckets=[])
    with pytest.raises(ValueError, match="compacted into the base"):
        table.changes_between(-1)


def test_explicit_retained_compacts(spark, tmp_path):
    """compact(retain_epochs=…) honors the retain set on both paths:
    buckets=None routes to an all-bucket partial fold (never silently
    ignores it), and the set is re-anchored to the live newest-N feed
    window at capture time."""
    events = change_stream(spark, 900, 120, 4, num_partitions=4)
    table = ParquetLakeTable(
        spark, str(tmp_path / "t"), n_buckets=4, compact_min_deltas=2
    )
    # min_deltas=2 would auto-compact during replay; commit manually
    table.compact_min_deltas = 10_000
    replay_batches(table, events, pipeline_depth=1)
    table.compact_min_deltas = 2  # feed horizon (newest 2) tracks this
    want = {(r.url, r.seq) for r in table.published().collect()}

    # binpack with an explicit retain: {1} is augmented by newest-2 {2,3}
    out = table.compact(buckets=[], retain_epochs={1})
    snap = table.current_snapshot()
    kept = {
        int(d["epoch_id"]) for d in snap["deltas"]
        if d.get("epoch_id") is not None
    }
    assert kept == {1, 2, 3}
    resid = [d for d in snap["deltas"] if d.get("epoch_id") is None]
    assert len(resid) == 1 and resid[0]["folded_epochs"] == [0]
    assert table.changes_between(0).count() > 0  # retained epochs serve

    # buckets=None + retain routes to the all-bucket partial fold
    out2 = table.compact(retain_epochs={2, 3})
    assert out2.get("partial")
    snap2 = table.current_snapshot()
    kept2 = {
        int(d["epoch_id"]) for d in snap2["deltas"]
        if d.get("epoch_id") is not None
    }
    assert kept2 == {2, 3}
    assert table.changes_between(1).count() > 0
    assert {(r.url, r.seq) for r in table.published().collect()} == want


def test_consume_adopts_widest_stale_range_numerically(spark, tmp_path):
    """Regression: stale-range adoption must compare heads numerically
    (range_5_12 beats range_5_9 despite lexicographic order) and drop
    the superseded subset ranges so downstreams never see overlap."""
    import os

    events = change_stream(spark, 800, 120, 2, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                             compact_min_deltas=10_000)
    replay_batches(table, events, pipeline_depth=1)
    out = str(tmp_path / "feed")
    os.makedirs(out, exist_ok=True)
    # two racing consumers landed overlapping ranges from cursor -1
    feed = table.changes_between(-1)
    feed.write.parquet(os.path.join(out, "range_-1_9"))
    feed.write.parquet(os.path.join(out, "range_-1_12"))
    r = table.consume_changes(out)
    assert r["until_epoch"] == 12  # numeric, not lexicographic
    assert not os.path.isdir(os.path.join(out, "range_-1_9"))


def test_follow_consumer_survives_hot_auto_maintenance(spark, tmp_path):
    """Regression: a consume_changes follower polling every epoch must
    keep exact feed service across hot-mode auto maintenance — the
    newest feed_retain_epochs (default compact_min_deltas) epochs are
    never folded, so the follower's cursor is always servable — and the
    landed ranges must compose to the published state."""
    import os

    events = change_stream(spark, 900, 120, 8, num_partitions=4)
    table = ParquetLakeTable(
        spark, str(tmp_path / "t"), n_buckets=4,
        compact_min_deltas=2, compact_mode="hot",
    )
    out = str(tmp_path / "feed")
    for e in range(8):
        apply_epoch(table, events.filter(F.col("epoch") == e), e)
        table.consume_changes(out)  # must never raise "cursor too old"
    # auto maintenance actually ran (folds and/or binpacks)
    assert any(
        (table.snapshot_at(int(f[1:9])).get("metrics") or {}).get("partial")
        for f in table._snapshot_files()
    )
    ranges = sorted(
        (d for d in os.listdir(out) if d.startswith("range_")),
        key=lambda d: int(d.rsplit("_", 1)[1]),
    )
    acc = None
    for d in ranges:
        part = spark.read.parquet(os.path.join(out, d))
        acc = part if acc is None else acc.unionByName(part)
    rebuilt = dedup_latest(acc.drop("bkt")).filter(~F.col("is_deleted"))
    got = {(r.url, r.seq) for r in rebuilt.collect()}
    want = {(r.url, r.seq) for r in table.published().collect()}
    assert got == want


def test_compact_hot_folds_only_qualifying_buckets(spark, tmp_path):
    table, _ = _table(spark, str(tmp_path / "t"), n_epochs=2)
    table.compact()
    assert table.compact_hot() is None  # nothing pending

    # a skewed epoch: every change hits ONE url → one hot bucket
    hot_urls = (
        spark.createDataFrame(
            [(i, "U", "https://hot.example/x", None, "en") for i in range(200)],
            "seq long, op string, url string, html binary, lang string",
        )
        .withColumn(
            "warc_ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("seq"))
        )
        .withColumn("schema_change", F.lit(None).cast("string"))
    )
    apply_epoch(table, hot_urls, 10)

    snap = table.current_snapshot()
    from embulk_spark.operators.merge import bucket_of
    hot_b = spark.range(1).select(
        bucket_of(F.lit("https://hot.example/x"), table._nb(snap)).alias("b")
    ).collect()[0]["b"]

    out = table.compact_hot(ratio=0.001)
    assert out is not None and out["buckets_folded"] == [hot_b]
    # only the hot bucket carried delta rows, so nothing spills to residual
    assert out["residual_rows"] == 0
    live = table.lookup_urls("https://hot.example/x").collect()
    assert len(live) == 1 and live[0]["seq"] == 199


def test_tombstone_retention_applies_to_hot_and_residual(spark, tmp_path):
    spark_df = (
        spark.createDataFrame(
            [
                (1, "I", "https://a.example/1", b"<p>a</p>", "en"),
                (2, "I", "https://b.example/2", b"<p>b</p>", "en"),
            ],
            "seq long, op string, url string, html binary, lang string",
        )
        .withColumn(
            "warc_ts", F.timestamp_seconds(F.lit(1_600_000_000) + F.col("seq"))
        )
        .withColumn("schema_change", F.lit(None).cast("string"))
    )
    table = ParquetLakeTable(
        spark, str(tmp_path / "t"), n_buckets=4, compact_min_deltas=10_000
    )
    apply_epoch(table, spark_df, 0)
    dels = spark_df.withColumn("op", F.lit("D")).withColumn(
        "seq", F.col("seq") + 10
    )
    apply_epoch(table, dels, 1)
    assert table.published().count() == 0
    # retention far in the future: every FOLDED tombstone is expirable,
    # but a residual (cold-bucket) tombstone must survive — it may guard
    # a row in a base bucket the fold never touched
    hot_b = int(table.read().select("bkt").first()["bkt"])
    table.compact("2100-01-01 00:00:00", buckets=[hot_b])
    assert table.published().count() == 0  # nothing resurrects
    # a later FULL compact with retention retires the rest
    table.compact("2100-01-01 00:00:00")
    snap = table.current_snapshot()
    total = sum(int(e["rows"] or 0) for e in snap["base"].values()) + sum(
        int(d["rows"] or 0) for d in snap["deltas"]
    )
    assert total == 0


def test_residual_tombstone_never_resurrects_cold_base_row(spark, tmp_path):
    """Regression: a tombstone whose victim row lives in a COLD base
    bucket must survive a partial compaction's retention filter — else
    the carried-forward base row comes back to life."""
    from embulk_spark.operators.merge import bucket_of

    rows = (
        spark.createDataFrame(
            [(i, "I", f"https://h{i}.example/x", b"<p>v</p>", "en")
             for i in range(8)],
            "seq long, op string, url string, html binary, lang string",
        )
        .withColumn(
            "warc_ts", F.timestamp_seconds(F.lit(1_600_000_000) + F.col("seq"))
        )
        .withColumn("schema_change", F.lit(None).cast("string"))
    )
    table = ParquetLakeTable(
        spark, str(tmp_path / "t"), n_buckets=4, compact_min_deltas=10_000
    )
    apply_epoch(table, rows, 0)
    table.compact()  # victims now live in the base
    one = table.read().select("url", "bkt").first()
    dels = rows.filter(F.col("url") == one["url"]).withColumn(
        "op", F.lit("D")
    ).withColumn("seq", F.col("seq") + 100).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(1_700_000_000))
    )
    apply_epoch(table, dels, 1)
    assert table.published().filter(F.col("url") == one["url"]).count() == 0
    # partial-compact a DIFFERENT bucket with everything-expirable
    # retention: the victim's tombstone rides the residual and must live
    other = [b for b in range(4) if b != int(one["bkt"])][0]
    table.compact("2100-01-01 00:00:00", buckets=[other])
    assert table.published().filter(F.col("url") == one["url"]).count() == 0


def test_concurrent_epoch_survives_partial_compact(spark, tmp_path):
    """A delta committed between snapshot capture and the partial-compact
    commit must survive (set-merge rebase), exactly as with full compact."""
    table, _ = _table(spark, str(tmp_path / "t"), n_epochs=2)
    snap = table.current_snapshot()
    # interleave: a new epoch lands after the compactor captured its snap
    late = change_stream(spark, 200, 40, 1, num_partitions=4)
    apply_epoch(table, late, 7)
    want = {(r.url, r.seq) for r in table.published().collect()}

    out = table._fold(snap, [0, 1])
    assert out["partial"]
    snap2 = table.current_snapshot()
    assert any(d.get("epoch_id") == 7 for d in snap2["deltas"])
    assert {(r.url, r.seq) for r in table.published().collect()} == want


def test_delta_binpack_leaves_base_untouched(spark, tmp_path):
    """compact(buckets=[]) is a pure delta binpack: every pending group
    collapses into one per-url-deduped residual, no base file rewritten."""
    table, _ = _table(spark, str(tmp_path / "t"), n_epochs=3)
    table.compact()
    events2 = change_stream(spark, 400, 60, 2, num_partitions=4).withColumn(
        "seq", F.col("seq") + 100_000
    )
    for e in range(3, 5):
        apply_epoch(table, events2.filter(F.col("epoch") == e - 3), e)
    want = {(r.url, r.seq) for r in table.published().collect()}
    base_before = _base_paths(table, [0, 1, 2, 3])

    out = table.compact(buckets=[])
    assert out["partial"] and out["buckets_folded"] == []
    assert out["residual_rows"] > 0
    snap = table.current_snapshot()
    assert _base_paths(table, [0, 1, 2, 3]) == base_before
    assert len(snap["deltas"]) == 1
    assert snap["deltas"][0]["epoch_id"] is None
    assert {(r.url, r.seq) for r in table.published().collect()} == want
    # a second binpack chains provenance: folded_epochs accumulate
    apply_epoch(table, events2.filter(F.col("epoch") == 1), 9)
    out2 = table.compact(buckets=[])
    snap2 = table.current_snapshot()
    assert snap2["deltas"][0]["folded_epochs"] == [3, 4, 9]


def test_hot_mode_auto_maintenance_matches_full(spark, tmp_path):
    """A compact_mode='hot' table self-maintains during replay (per-bucket
    folds + binpacks) and ends bit-identical to a never-compacted control."""
    events = change_stream(spark, 900, 120, 6, num_partitions=4)
    table = ParquetLakeTable(
        spark, str(tmp_path / "hot"), n_buckets=4,
        compact_min_deltas=3, compact_mode="hot",
    )
    replay_batches(table, events, pipeline_depth=1)
    control = ParquetLakeTable(
        spark, str(tmp_path / "ctl"), n_buckets=4, compact_min_deltas=10_000
    )
    replay_batches(control, events, pipeline_depth=1)

    got = {(r.url, r.seq) for r in table.published().collect()}
    want = {(r.url, r.seq) for r in control.published().collect()}
    assert got == want
    # maintenance actually ran and bounded the pending-group count
    assert len(table.current_snapshot()["deltas"]) < 6
    assert any(
        (table.snapshot_at(int(f[1:9])).get("metrics") or {}).get("partial")
        for f in table._snapshot_files()
    )


def test_compact_mode_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="compact_mode"):
        ParquetLakeTable(spark, str(tmp_path / "x"), compact_mode="never")


def test_cli_compact_surface(spark, tmp_path, capsys):
    import json

    from embulk_spark import cli

    path = str(tmp_path / "t")
    _table(spark, path, n_epochs=3)

    # pure delta binpack
    assert cli.main(["compact", path, "--buckets", ""]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["partial"] and out["buckets_folded"] == []

    # hot fold: ratio 0 folds every bucket holding delta rows
    assert cli.main(["compact", path, "--hot", "--ratio", "0.0"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out.get("partial") or out.get("noop")

    # full fold leaves no pending groups
    assert cli.main(["compact", path]) == 0
    table = ParquetLakeTable(spark, path)
    assert table.current_snapshot()["deltas"] == []
