"""The benchmark's workloads.

Each workload owns its inputs (made by ``gen`` from the seed), creates a
fresh lake table for every measured pass, and drives only public calls:
``replay_batches`` / ``apply_epoch`` to write, ``lookup_urls`` and
``changes_between`` to read. Every write is followed on the same thread
by probes, each one 64-url point lookup and one change-feed poll of the
epoch just written, timed apart from the write: a fixed number in the
closed loop; in the open loop, as many as fit before the next batch falls
due.

A pass returns a ``Samples`` record; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen

LOOKUP_KEYS = 64
FILL_MARGIN = 1.2


@dataclass
class Samples:
    """What one measured pass observed."""

    events: list[int] = field(default_factory=list)       # events per write call
    write_s: list[float] = field(default_factory=list)    # duration of each write call
    freshness_s: list[float] = field(default_factory=list)  # commit minus due time
    queue_wait_s: list[float] = field(default_factory=list)  # start minus due time
    epoch_s: list[float] = field(default_factory=list)    # write time per epoch
    lookup_s: list[float] = field(default_factory=list)
    feed_s: list[float] = field(default_factory=list)
    feed_rows: list[int] = field(default_factory=list)
    write_amp: list[float] = field(default_factory=list)
    commits: list[dict] = field(default_factory=list)     # merge_epoch return values
    attempted: int = 0
    failed: int = 0


class Workload:
    """Shared plumbing: table creation, timed calls, read probes."""

    name = ""

    def __init__(self, spark, work: str, seed: int, tiny: bool, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.tracer = tracer
        self.rng = np.random.default_rng(seed + 1)
        self.table = None
        self.prefilled = None
        self.log_path = os.path.join(work, "log")

    def rebind(self, spark, tracer) -> None:
        """Use a new session (the traced pass restarts Spark)."""
        self.spark = spark
        self.tracer = tracer

    def new_table(self, tag: str, **props):
        from embulk_spark.streaming.lake import ParquetLakeTable

        path = os.path.join(self.work, "tables", tag)
        shutil.rmtree(path, ignore_errors=True)
        self.table = ParquetLakeTable(self.spark, path, n_buckets=16, **props)
        return self.table

    def call(self, s: Samples, span: str, fn, **attrs):
        """Run ``fn`` inside a span; a raised error counts as a failed call."""
        s.attempted += 1
        with self.tracer.span(span, **attrs) as rec:
            try:
                return fn()
            except Exception:  # noqa: BLE001 - a failed call is a measured outcome
                traceback.print_exc()
                s.failed += 1
                rec["failed"] = True
                return None

    def probe(self, s: Samples, urls: pa.Array, since: int, until: int) -> float:
        """One point lookup and one change-feed poll after a write; returns
        how long the pair took."""
        t_probe = time.perf_counter()
        keys = urls.take(pa.array(self.rng.integers(0, len(urls), LOOKUP_KEYS))).to_pylist()
        t = self.table
        t0 = time.perf_counter()
        if self.call(s, "lookup", lambda: t.lookup_urls(keys).toPandas()) is not None:
            s.lookup_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        feed = self.call(s, "feed", lambda: t.changes_between(since, until).toPandas())
        if feed is not None:
            s.feed_s.append(time.perf_counter() - t0)
            s.feed_rows.append(len(feed))
        return time.perf_counter() - t_probe

    def events_df(self):
        return self.spark.read.parquet(self.log_path)

    def data_bytes(self) -> int:
        return gen.tree_bytes(os.path.join(self.table.path, "data"))


class BackfillBulk(Workload):
    """Closed loop, one client: each round replays the whole pre-written
    log into a fresh table with ``replay_batches``."""

    name = "backfill_bulk"

    def sizes(self) -> dict:
        if self.tiny:
            return dict(n_events=4_000, n_urls=400, n_epochs=2)
        return dict(n_events=60_000, n_urls=6_000, n_epochs=4)

    def setup(self, seconds: float) -> None:
        shutil.rmtree(self.log_path, ignore_errors=True)
        self.events = gen.change_events(self.seed, hot_frac=0.2, **self.sizes())
        self.log_bytes = gen.write_event_log(self.events, self.log_path)
        self.urls = pc.unique(self.events.column("url"))
        self.new_table("setup")

    #: unsampled rounds before measuring: the first runs cold, and the
    #: second still ran ~20% slower than later ones
    WARM_ROUNDS = 2
    #: probes per round: one round takes ~4 s, so a single probe per round
    #: left three or four read samples per run
    PROBES = 2

    def warm_up(self) -> None:
        """Unsampled rounds: compile the hot paths on full-size data."""
        for i in range(self.WARM_ROUNDS):
            self.round(Samples(), f"warm{i}")

    def measure(self, seconds: float) -> Samples:
        s = Samples()
        t_end = time.time() + seconds
        rnd, last = 0, 0.0
        # at least three rounds, so the median has a middle; past that, a
        # round starts only if one more round of the last one's length
        # still ends inside the window
        while rnd < 3 or time.time() + last < t_end:
            t0 = time.time()
            self.round(s, f"round{rnd}")
            last = time.time() - t0
            rnd += 1
        return s

    def round(self, s: Samples, tag: str) -> None:
        """Replay the whole log into a fresh table, then probe it."""
        from embulk_spark.streaming.replay import replay_batches

        n_epochs = self.sizes()["n_epochs"]
        events = self.events_df()
        due = time.time()
        if self.table is not None:
            shutil.rmtree(self.table.path, ignore_errors=True)
        table = self.new_table(tag)
        start = time.time()
        out = self.call(s, "write", lambda: replay_batches(table, events))
        commit = time.time()
        if out is not None:
            dt = commit - start
            s.queue_wait_s.append(start - due)
            s.events.append(self.events.num_rows)
            s.write_s.append(dt)
            s.freshness_s.append(commit - due)
            s.epoch_s.extend([dt / n_epochs] * n_epochs)
            s.commits.extend(out)
            s.write_amp.append(self.data_bytes() / self.log_bytes)
        for _ in range(self.PROBES):
            self.probe(s, self.urls, n_epochs - 2, n_epochs - 1)

    def applied_events(self) -> pa.Table:
        return self.events

    def isolated_input(self):
        """One epoch of the log, for the isolated extract/dedup timings."""
        from pyspark.sql import functions as F

        return self.events_df().filter(F.col("epoch") == 0)


class TailTrickle(Workload):
    """Open loop: small batches fall due every ``interval`` seconds; each
    goes through ``apply_epoch`` when due (or as soon as the previous cycle
    ends, if it overran). Commit time minus due time is the freshness.
    Reads fill the time between a commit and the next due time, so each
    run samples many more reads than writes."""

    name = "tail_trickle"
    #: a low compaction trigger, so that auto-compaction (and the full-base
    #: folds the feed-retention window causes) fires many times in one run
    COMPACT_MIN_DELTAS = 2
    #: unsampled batches after those, each with ``WARM_PROBES`` probes:
    #: without them, writes still ran ~30% and reads ~15% slower in the
    #: first batch of the schedule than in later ones
    WARM_BATCHES = 1
    WARM_PROBES = 3

    def sizes(self) -> dict:
        if self.tiny:
            return dict(batch=200, n_urls=400, interval=1.0)
        return dict(batch=2_000, n_urls=4_000, interval=6.5)

    def setup(self, seconds: float) -> None:
        z = self.sizes()
        self.n_batches = self.unsampled() + int(seconds / z["interval"]) + 1
        shutil.rmtree(self.log_path, ignore_errors=True)
        self.events = gen.change_events(
            self.seed, n_events=z["batch"] * self.n_batches, n_urls=z["n_urls"],
            n_epochs=self.n_batches, hot_frac=0.5, p_dup=0.10,
        )
        gen.write_event_log(self.events, self.log_path)
        self.epoch_rows = np.bincount(
            self.events.column("epoch").to_numpy(), minlength=self.n_batches
        )
        self.batch_bytes = [
            gen.tree_bytes(os.path.join(self.log_path, f"epoch={e}"))
            for e in range(self.n_batches)
        ]
        self.new_table("setup", compact_min_deltas=self.COMPACT_MIN_DELTAS)

    def unsampled(self) -> int:
        return self.COMPACT_MIN_DELTAS + self.WARM_BATCHES

    def prefill(self, tag: str):
        """A fresh table with the first ``unsampled()`` batches applied,
        unsampled; the last ``WARM_BATCHES`` of them are probed, so the
        hot paths are compiled on full-size batches before the schedule
        starts."""
        from pyspark.sql import functions as F

        from embulk_spark.streaming.replay import apply_epoch

        events = self.events_df()
        table = self.new_table(tag, compact_min_deltas=self.COMPACT_MIN_DELTAS)
        for e in range(self.unsampled()):
            apply_epoch(table, events.filter(F.col("epoch") == e), e)
            if e >= self.COMPACT_MIN_DELTAS:
                urls = self.urls_upto(e)
                for _ in range(self.WARM_PROBES):
                    self.probe(Samples(), urls, e - 1, e)
        self.applied = self.unsampled()
        return table, events

    def warm_up(self) -> None:
        """Prefills the table the next pass measures."""
        self.prefilled = self.prefill("tail")

    def measure(self, seconds: float) -> Samples:
        """The first ``unsampled()`` batches are applied before the
        schedule starts and are not sampled, so that every sampled commit
        runs at the same steady state: a commit followed by a fold."""
        from pyspark.sql import functions as F

        from embulk_spark.streaming.replay import apply_epoch

        s = Samples()
        prefill = self.unsampled()
        table, events = self.prefilled or self.prefill("tail")
        self.prefilled = None
        interval = self.sizes()["interval"]
        t_start = time.time()
        for e in range(prefill, self.n_batches):
            due = t_start + (e - prefill) * interval
            if e > prefill and due >= t_start + seconds:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            start = time.time()
            batch = events.filter(F.col("epoch") == e)
            m = self.call(s, "write", lambda: apply_epoch(table, batch, e), epoch=e)
            commit = time.time()
            if m is None:
                break  # later batches would be applied out of order
            self.applied = e + 1
            s.queue_wait_s.append(start - due)
            s.events.append(int(self.epoch_rows[e]))
            s.write_s.append(commit - start)
            s.epoch_s.append(commit - start)
            s.freshness_s.append(commit - due)
            s.commits.append(m)
            urls = self.urls_upto(e)
            last = self.probe(s, urls, e - 1, e)
            next_due = min(due + interval, t_start + seconds)
            self.fill(s, urls, e - 1, e, last, next_due)
        s.write_amp.append(self.data_bytes() / sum(self.batch_bytes[: self.applied]))
        return s

    def fill(self, s: Samples, urls: pa.Array, since: int, until: int,
             last: float, deadline: float) -> None:
        """Further probes while one more, at ``FILL_MARGIN`` times the length
        of the last, still ends before ``deadline``: reads fill the idle
        time between writes without delaying the next one."""
        while time.time() + FILL_MARGIN * last < deadline:
            last = self.probe(s, urls, since, until)

    def urls_upto(self, e: int) -> pa.Array:
        ep = self.events.column("epoch")
        return pc.unique(self.events.filter(pc.less_equal(ep, e)).column("url"))

    def applied_events(self) -> pa.Table:
        return self.events.filter(pc.less(self.events.column("epoch"), self.applied))

    def isolated_input(self):
        from pyspark.sql import functions as F

        return self.events_df().filter(F.col("epoch") == max(0, self.applied - 1))


WORKLOADS = {w.name: w for w in (BackfillBulk, TailTrickle)}
