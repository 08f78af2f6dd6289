"""Lake maintenance: time-travel reads, orphan cleanup (Embulk's
``cleanup`` command, exec/BulkLoader.java:471-505), snapshot expiry."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from embulk_spark.sources.events import change_stream
from embulk_spark.streaming.lake import ParquetLakeTable
from embulk_spark.streaming.replay import apply_epoch, replay_batches


def _replayed_table(spark, path, n_epochs=3):
    events = change_stream(spark, 900, 120, n_epochs, num_partitions=4)
    table = ParquetLakeTable(spark, path, n_buckets=4)
    replay_batches(table, events, pipeline_depth=1)
    return table, events


def test_time_travel_reads_old_state(spark, tmp_path):
    table, events = _replayed_table(spark, str(tmp_path / "t"))
    cur = table.current_snapshot()
    # version after the FIRST epoch commit = 1 (0 is the empty bootstrap)
    old = table.read(version=1).filter(~F.col("is_deleted"))
    e0 = events.filter("epoch = 0")
    from embulk_spark.operators.merge import dedup_latest

    want = (
        dedup_latest(e0.select("url", "warc_ts", "seq", "op"))
        .filter(F.col("op") != "D").count()
    )
    assert old.count() == want
    assert table.read(version=cur["version"]).count() == table.read().count()


def test_cleanup_removes_only_orphans(spark, tmp_path):
    table, _ = _replayed_table(spark, str(tmp_path / "t"))
    before = table.published().count()
    # plant an orphan (a crashed write that never committed)
    orphan_dir = os.path.join(str(tmp_path / "t"), "data", "e99999999_dead")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    os.utime(orphan, (1, 1))  # ancient mtime: outside any grace window

    out = table.cleanup_orphans(grace_seconds=3600)
    assert out["orphans_removed"] == 1
    assert not os.path.exists(orphan)
    assert table.published().count() == before  # live data untouched

    # a YOUNG orphan survives the grace window (in-flight epoch safety)
    os.makedirs(orphan_dir, exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"fresh in-flight file")
    out = table.cleanup_orphans(grace_seconds=3600)
    assert out["orphans_removed"] == 0 and out["kept_in_grace"] == 1


def test_expire_snapshots_then_cleanup(spark, tmp_path):
    table, _ = _replayed_table(spark, str(tmp_path / "t"), n_epochs=3)
    table.compact()  # old deltas now referenced only by old snapshots
    n_snaps = len(table._snapshot_files())
    assert n_snaps >= 4
    out = table.expire_snapshots(keep_last=1)
    assert out["snapshots_retained"] == 1
    before = table.published().count()
    removed = table.cleanup_orphans(grace_seconds=0)
    # the pre-compaction delta files are gone, current state intact
    assert removed["orphans_removed"] > 0
    assert table.published().count() == before


def test_empty_epoch_survives_snapshot_expiry(spark, tmp_path):
    """An epoch committed empty stays "empty", not "compacted", once the
    snapshot that committed it expires: the set rides every snapshot."""
    events = change_stream(spark, 300, 60, 2, num_partitions=2)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=2)
    apply_epoch(table, events.filter("epoch = 0"), 0)
    apply_epoch(table, events.limit(0), 1)
    apply_epoch(table, events.filter("epoch = 1"), 2)
    table.expire_snapshots(keep_last=1)
    assert len(table._snapshot_files()) == 1
    assert table.epoch_delta_paths(1) == []
    assert table.changes_between(0, 2).count() > 0
    assert table._empty_epochs() == {1}


def test_concurrent_handles_never_lose_commits(spark, tmp_path):
    """Two independent table handles (simulating separate driver
    processes — each with its OWN in-process lock) commit different
    epochs concurrently; create-exclusive snapshot files + rebase retry
    must preserve every epoch, never last-writer-wins."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    events = change_stream(spark, 600, 80, 4, num_partitions=4).cache()
    h1 = ParquetLakeTable(spark, path, n_buckets=4)
    h2 = ParquetLakeTable(spark, path, n_buckets=4)

    def run(handle, epochs):
        for e in epochs:
            handle.merge_epoch(
                events.filter(f"epoch = {e} AND op <> 'S'"), e
            )

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(run, h1, [0, 2])
        f2 = ex.submit(run, h2, [1, 3])
        f1.result(), f2.result()

    assert h1.committed_epochs() == {0, 1, 2, 3}
    # final state equals a single-handle sequential replay
    ref = ParquetLakeTable(spark, str(tmp_path / "ref"), n_buckets=4)
    replay_batches(ref, events, pipeline_depth=1)
    got = {(r["url"], r["seq"]) for r in h1.published().collect()}
    want = {(r["url"], r["seq"]) for r in ref.published().collect()}
    assert got == want


def test_bucket_pruned_read_is_complete_and_disjoint(spark, tmp_path):
    """Key-targeted reads: read(buckets=S) returns exactly the rows whose
    url hashes into S; the bucket partition of the key space is complete
    and disjoint (the pruning handle for point lookups / targeted
    compaction at scale). After compaction the base scan should only
    touch the requested buckets' files."""
    from embulk_spark.operators.merge import bucket_of

    table, _ = _replayed_table(spark, str(tmp_path / "t"))
    table.compact()
    full = table.read()
    n_full = full.count()
    counts = {}
    for b in range(4):
        part = table.read(buckets=[b])
        rows = part.collect()
        counts[b] = len(rows)
        # every returned row really belongs to bucket b
        assert all(r["bkt"] == b for r in rows)
    assert sum(counts.values()) == n_full
    # pruned base scan reads fewer files than the full scan
    pruned_files = {
        f for b, e in table.current_snapshot()["base"].items()
        if int(b) == 0 for f in e["files"]
    }
    all_files = {
        f for e in table.current_snapshot()["base"].values() for f in e["files"]
    }
    assert pruned_files and pruned_files < all_files


def test_changes_between_matches_range_winners(spark, tmp_path):
    """Incremental feed: epochs (0, 2] net changes equal a direct
    recompute over those epochs' raw events; epoch 0 rows appear only if
    re-touched later; deletes surface as tombstones."""
    from embulk_spark.operators.merge import dedup_latest

    table, events = _replayed_table(spark, str(tmp_path / "t"))
    feed = table.changes_between(0, 2)
    ranged = events.filter(
        (F.col("epoch") > 0) & (F.col("epoch") <= 2) & (F.col("op") != "S")
    )
    want = {
        (r["url"], r["seq"], r["op"] == "D")
        for r in dedup_latest(
            ranged.select("url", "warc_ts", "seq", "op")
        ).collect()
    }
    got = {
        (r["url"], r["seq"], r["is_deleted"]) for r in feed.collect()
    }
    assert got == want and len(got) > 0


def test_changes_between_applied_in_order_reconstructs(spark, tmp_path):
    """A consumer applying feed ranges (−1,1], (1,2] in order ends at the
    published state — the contract that makes the feed a CDC source."""
    from embulk_spark.operators.merge import dedup_latest

    table, _ = _replayed_table(spark, str(tmp_path / "t"))
    a = table.changes_between(-1, 1)
    b = table.changes_between(1, 2)
    merged = dedup_latest(a.unionByName(b)).filter(~F.col("is_deleted"))
    want = {
        (r["url"], r["seq"]) for r in table.published().collect()
    }
    got = {(r["url"], r["seq"]) for r in merged.collect()}
    assert got == want


def test_changes_between_raises_after_compaction(spark, tmp_path):
    import pytest

    table, _ = _replayed_table(spark, str(tmp_path / "t"))
    table.compact()
    with pytest.raises(ValueError, match="compacted"):
        table.changes_between(0, 2)
    # a fresh range starting at the current epoch stays readable
    assert table.changes_between(2).count() == 0


def test_changes_between_scans_only_delta_files(spark, tmp_path):
    """The feed's O(change-set) claim, pinned on the physical plan: with a
    compacted base present, a post-compaction epoch range reads ONLY that
    range's delta files — the base (data/compact_*) never appears in the
    scan."""
    events = change_stream(spark, 900, 120, 4, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay_batches(table, events.filter("epoch <= 1"), pipeline_depth=1)
    table.compact()
    replay_batches(table, events, pipeline_depth=1)

    feed = table.changes_between(1, 3)
    files = feed.inputFiles()
    assert files and all("/data/e0000000" in f for f in files)
    assert not any("compact_" in f for f in files)
    # and the range excludes folded epochs: only e2/e3 urls appear
    late_urls = {
        r["url"]
        for r in events.filter("epoch in (2,3) and op != 'S'").select("url").collect()
    }
    assert {r["url"] for r in feed.collect()} <= late_urls


def _state(table):
    return {
        (r["url"], r["warc_ts"], r["seq"])
        for r in table.published().select("url", "warc_ts", "seq").collect()
    }


def test_rollback_restores_state_and_replay_reapplies(spark, tmp_path):
    """rollback_to publishes a NEW snapshot with the old state; the undone
    epochs leave committed_epochs, so the normal idempotent replay
    re-applies exactly them and converges to the original final state."""
    events = change_stream(spark, 1200, 150, 3, num_partitions=4).cache()
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay_batches(table, events, max_epochs=2, pipeline_depth=1)
    good = table.current_snapshot()
    state_01 = _state(table)

    replay_batches(table, events, pipeline_depth=1)
    final = _state(table)
    assert table.committed_epochs() == {0, 1, 2}

    rep = table.rollback_to(good["version"])
    assert rep["uncommitted_epochs"] == [2]
    assert rep["new_version"] > good["version"]
    assert table.committed_epochs() == {0, 1}
    assert _state(table) == state_01
    # history preserved: the pre-rollback snapshot still time-travels
    pre = table.snapshot_at(rep["new_version"] - 1)
    assert 2 in pre["committed_epochs"]

    # replay re-applies ONLY the undone epoch and converges
    metrics = replay_batches(table, events, pipeline_depth=1)
    assert [m["epoch_id"] for m in metrics] == [2]
    assert _state(table) == final


def test_rollback_refused_after_expiry(spark, tmp_path):
    import pytest

    events = change_stream(spark, 600, 80, 3, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay_batches(table, events, pipeline_depth=1)
    v0 = 1  # first epoch commit
    table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        table.rollback_to(v0)


def test_rollback_noop_and_idempotent(spark, tmp_path):
    events = change_stream(spark, 600, 80, 2, num_partitions=4)
    table = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay_batches(table, events, pipeline_depth=1)
    cur = table.current_snapshot()["version"]
    assert table.rollback_to(cur)["noop"]
    before = _state(table)
    v_target = cur - 1
    r1 = table.rollback_to(v_target)
    r2 = table.rollback_to(v_target)  # again: publishes another restore
    assert r1["rolled_back_to"] == r2["rolled_back_to"] == v_target
    assert _state(table) == _state(table)
    assert table.committed_epochs() == set(
        table.snapshot_at(v_target)["committed_epochs"]
    )
    assert _state(table) != before or not r1.get("uncommitted_epochs")


def test_tags_pin_snapshots_and_read(spark, tmp_path):
    import pytest

    table, _ = _replayed_table(spark, str(tmp_path / "t"))
    v1_rows = table.read(version=1).filter(~F.col("is_deleted")).count()
    table.tag("after-epoch-0", 1)
    assert table.tags() == {"after-epoch-0": 1}

    # tags are immutable: re-tagging raises, dropping then re-tagging works
    with pytest.raises(FileExistsError):
        table.tag("after-epoch-0", 2)
    assert table.read_tag("after-epoch-0").count() == v1_rows

    # expiry keeps the tagged snapshot alive (and only it, below keep_last)
    out = table.expire_snapshots(keep_last=1)
    assert "v00000001.json" in table._snapshot_files()
    assert out["snapshots_pinned_by_tags"] == 1
    assert table.read_tag("after-epoch-0").count() == v1_rows
    # tagged snapshot's data files survive orphan cleanup
    table.cleanup_orphans(grace_seconds=0)
    assert table.read_tag("after-epoch-0").count() == v1_rows

    # dropping the tag releases the pin on the next expiry
    table.drop_tag("after-epoch-0")
    table.expire_snapshots(keep_last=1)
    assert "v00000001.json" not in table._snapshot_files()
    with pytest.raises(ValueError, match="unknown tag"):
        table.read_tag("after-epoch-0")


def test_verify_against_events_clean_and_corrupted(spark, tmp_path):
    table, events = _replayed_table(spark, str(tmp_path / "t"))
    out = table.verify_against_events(events)
    assert out["ok"] and out["urls_checked"] > 0
    assert (out["missing"], out["extra"], out["mismatched"]) == (0, 0, 0)

    # corrupt the table through the front door (an extra delete epoch the
    # log never saw) → verify must flag the divergence
    url = table.published().select("url").first().url
    table.delete_where(f"url = '{url}'", epoch_id=999)
    out2 = table.verify_against_events(events)
    assert not out2["ok"] and out2["missing"] == 1


def test_consume_changes_exactly_once(spark, tmp_path):
    """CDC-out consumer cursor: each call drains (cursor, head], ranges
    compose to the table state, crashes between range-write and
    cursor-advance self-heal."""
    import json

    from embulk_spark.operators.merge import dedup_latest
    from embulk_spark.streaming.replay import apply_epoch

    table, events = _replayed_table(spark, str(tmp_path / "t"), n_epochs=2)
    out = str(tmp_path / "feed")
    r1 = table.consume_changes(out)
    assert r1["rows"] > 0 and r1["until_epoch"] == 1
    assert table.consume_changes(out)["noop"]

    more = change_stream(spark, 400, 80, 2, num_partitions=4).withColumn(
        "seq", F.col("seq") + 60_000
    )
    for e in (2, 3):
        apply_epoch(table, more.filter(F.col("epoch") == e - 2), e)
    # crash window: lose the cursor AFTER this drain's range lands
    r2 = table.consume_changes(out)
    assert r2["until_epoch"] == 3
    cur = os.path.join(out, "_cursor.json")
    with open(cur, "w") as f:
        json.dump({"since_epoch": r2["since_epoch"]}, f)  # rewind (crash)
    r2b = table.consume_changes(out)
    assert r2b["out"] == r2["out"] and r2b["rows"] == r2["rows"]

    # applying the ranges in order reconstructs the published state
    ranges = sorted(
        d for d in os.listdir(out) if d.startswith("range_")
    )
    assert len(ranges) == 2
    acc = spark.read.parquet(os.path.join(out, ranges[0]))
    for d in ranges[1:]:
        acc = acc.unionByName(spark.read.parquet(os.path.join(out, d)))
    rebuilt = dedup_latest(acc.drop("bkt")).filter(~F.col("is_deleted"))
    got = {(r.url, r.seq) for r in rebuilt.collect()}
    want = {(r.url, r.seq) for r in table.published().collect()}
    assert got == want


def test_read_as_of_timestamp(spark, tmp_path):
    """Timestamp time travel: each snapshot's committed_at bounds what
    read_as_of serves; a ts between commits serves the EARLIER state,
    a pre-history ts raises, datetime and float inputs agree."""
    import json
    from datetime import datetime, timezone

    table, _ = _replayed_table(spark, str(tmp_path / "t"))
    snaps = []
    for fn in sorted(os.listdir(table._snap_dir)):
        with open(os.path.join(table._snap_dir, fn)) as f:
            snaps.append(json.load(f))
    assert len(snaps) >= 3
    # exactly at each commit instant → that version
    for s in snaps:
        assert table.version_as_of(s["committed_at"]) == s["version"]
    # strictly between v1 and v2 commits → still v1 (monotone floor)
    mid = (snaps[1]["committed_at"] + snaps[2]["committed_at"]) / 2
    if snaps[2]["committed_at"] > snaps[1]["committed_at"]:
        assert table.version_as_of(mid) == snaps[1]["version"]
    got = sorted(
        r["url"] for r in table.read_as_of(snaps[1]["committed_at"]).collect()
    )
    want = sorted(
        r["url"]
        for r in table.read(version=1).filter(~F.col("is_deleted")).collect()
    )
    assert got == want
    # datetime input (UTC-aware and naive-as-UTC) matches the float form
    dt = datetime.fromtimestamp(snaps[1]["committed_at"], tz=timezone.utc)
    assert table.version_as_of(dt) == snaps[1]["version"]
    assert table.version_as_of(dt.replace(tzinfo=None)) == snaps[1]["version"]
    # future ts → current; prehistoric ts → error
    assert table.version_as_of(snaps[-1]["committed_at"] + 1e6) == snaps[-1][
        "version"
    ]
    import pytest

    with pytest.raises(ValueError, match="no snapshot"):
        table.version_as_of(snaps[0]["committed_at"] - 1e6)


def test_cli_show_time_travel(spark, tmp_path, capsys):
    from embulk_spark import cli

    path = str(tmp_path / "t")
    table, _ = _replayed_table(spark, path)
    v1_rows = table.read(version=1).filter(~F.col("is_deleted")).count()
    cur_rows = table.published().count()
    table.tag("rel1", version=1)
    import json as _json

    with open(os.path.join(table._snap_dir, "v00000001.json")) as f:
        t1 = _json.load(f)["committed_at"]

    assert cli.main(["show", path, "--count"]) == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == str(cur_rows)
    assert cli.main(["show", path, "--version", "1", "--count"]) == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == str(v1_rows)
    assert cli.main(["show", path, "--tag", "rel1", "--count"]) == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == str(v1_rows)
    assert cli.main(["show", path, "--as-of", str(t1), "--count"]) == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == str(v1_rows)
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t1, tz=timezone.utc).replace(
        tzinfo=None
    ).isoformat()
    assert cli.main(["show", path, "--as-of", iso, "--count"]) == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == str(v1_rows)


def test_version_as_of_iso_roundtrip_microsecond_loss(spark, tmp_path):
    """Regression (r4): datetime.fromtimestamp(t).timestamp() lands 1µs
    BELOW round(t*1e6) for ~6% of floats, so feeding a commit's printed
    instant back through the ISO form resolved to the PRIOR version.
    version_as_of carries a 1µs tolerance now. Pinned with a float that
    measurably loses a µs through the round trip."""
    import json as _json
    from datetime import datetime, timezone

    table, _ = _replayed_table(spark, str(tmp_path / "t"))
    # pick a known-lossy instant and FORCE it as v1's committed_at
    lossy = 1787300945.2706954
    dt = datetime.fromtimestamp(lossy, tz=timezone.utc)
    assert round(dt.timestamp() * 1e6) < round(lossy * 1e6)  # the loss
    p = os.path.join(table._snap_dir, "v00000001.json")
    with open(p) as f:
        snap = _json.load(f)
    snap["committed_at"] = lossy
    with open(p, "w") as f:
        _json.dump(snap, f)
    # float form and its datetime round trip must agree on the version
    assert table.version_as_of(lossy) == 1
    assert table.version_as_of(dt) == 1
    assert table.version_as_of(dt.replace(tzinfo=None)) == 1
