"""CDC ingest benchmark: one named workload, one seed, one result line.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload backfill_bulk --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, and the per-layer record
(spans, Spark totals per span, both passes' end-to-end figures and the
tracing overhead) is also written to ``.perfbench/trace/<workload>.json``.

End-to-end metrics, the same on every workload. A write call is one
``replay_batches`` round over the whole log (backfill_bulk) or one
``apply_epoch`` batch (tail_trickle). A probe is one lookup and one feed
poll: two follow each backfill_bulk round, and on tail_trickle one follows
each batch and further ones fill the idle time before the next is due.

- ``setup_s``: median of seven set-ups (inputs made from the seed and
  written to disk, plus opening a new table);
- ``events_per_s``: median over write calls of events in / call time;
- ``freshness_s_p50``: median of commit time minus the time the write was
  due (in the closed loop, when the previous round ended);
- ``lookup_ms_p50``: median of the 64-url ``lookup_urls`` probes;
- ``feed_ms_p50``: median of the ``changes_between`` probes, each a poll
  of the newest epoch;
- ``write_amp``: bytes under the table's ``data/`` per input-log byte;
- ``peak_rss_mb``: peak memory of the driver JVM (resident) plus its
  Python workers (proportional set) while measuring;
- ``ok_frac``: calls that returned out of calls attempted.

A run: start one local Spark session with ``nproc - 1`` task threads;
set the workload up seven times; warm up with the workload's own calls,
unsampled; measure for ``--seconds``; then, off the clock, check the
published table against the independent gate. A traced run measures half
the time untraced, restarts Spark with its event log on, and measures the
other half traced, so that the difference between the two halves is the
tracing overhead. ``--tiny`` shrinks every input (used by the self-test).

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 7
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="shrink inputs (self-test)")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, eventlog: str | None):
    """One local session sized for this host, all scratch inside ``work``."""
    from embulk_spark.session import get_spark

    # one core is left to the driver JVM, the Python driver and the
    # collector: on a 4-vCPU host, 3 task threads ingest backfill_bulk as
    # fast as 4 do (15.2k events/s either way)
    n = max(1, nproc() - 1)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: resident memory then does not depend
        # on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=conf)
    return spark, time.perf_counter() - t0


def phase(name: str, t0: float) -> float:
    """Log how long a phase of the run took (standard error); returns now."""
    now = time.perf_counter()
    print(f"perfbench: {name} {now - t0:.2f}s", file=sys.stderr, flush=True)
    return now


def log_samples(s) -> None:
    """The raw per-call times of a pass (standard error), for reading noise."""
    for name in ("write_s", "freshness_s", "lookup_s", "feed_s"):
        xs = " ".join(f"{x:.3f}" for x in getattr(s, name))
        print(f"perfbench: {name} [{xs}]", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def end_to_end(s, setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "events_per_s": median([e / w for e, w in zip(s.events, s.write_s)]),
        "freshness_s_p50": median(s.freshness_s),
        "lookup_ms_p50": 1000 * median(s.lookup_s),
        "feed_ms_p50": 1000 * median(s.feed_s),
        "write_amp": median(s.write_amp),
        "peak_rss_mb": peak_mb,
        "ok_frac": (s.attempted - s.failed) / max(1, s.attempted),
    }


def check(wl) -> list[str]:
    """The correctness gate over the workload's current table."""
    import gate

    actual = wl.table.published().select("url", "seq", "text").toPandas()
    return gate.compare(actual, gate.expected_from_events(wl.applied_events()))


def fold_probe(wl) -> None:
    """One explicit full compaction of the end-of-pass table, so that the
    compaction layer is measured on every workload."""
    with wl.tracer.span("compact"):
        wl.table.compact()


def isolated(wl) -> dict:
    """Timed isolated calls of the extraction UDF and the dedup aggregation
    over one epoch of the workload's input, each written to a noop sink."""
    from embulk_spark.functions.extract import extract_text
    from embulk_spark.operators.merge import dedup_latest
    from pyspark.sql import functions as F

    df = wl.isolated_input().cache()
    rows = df.count()
    docs = df.filter(F.col("html").isNotNull()).count()
    keys = df.select("url").distinct().count()
    out = {}
    with wl.tracer.span("extract") as rec:
        df.select(extract_text(F.col("html")).alias("text")) \
            .write.format("noop").mode("overwrite").save()
    out["extract.s"] = rec["end"] - rec["start"]
    with wl.tracer.span("dedup") as rec:
        dedup_latest(df.select("seq", "op", "url", "warc_ts", "html", "lang")) \
            .write.format("noop").mode("overwrite").save()
    out["merge.dedup_s"] = rec["end"] - rec["start"]
    df.unpersist()
    out.update({"extract.docs": docs, "extract.docs_per_s": docs / out["extract.s"],
                "merge.rows_in": rows, "merge.keys_out": keys})
    return out


SPANS = ("write", "lookup", "feed", "compact", "extract", "dedup")
SPARK_KEYS = ("task_s", "cpu_s", "shuffle_bytes", "spill_bytes", "failed_tasks")


def per_layer(wl, s, session_s: float, iso: dict, spark_totals: dict,
              overhead: float) -> dict:
    import gen

    hist = wl.table.metrics_history()
    folds = [m for m in hist if m.get("compaction")]
    commits = [m for m in s.commits if not m.get("skipped_duplicate_epoch")]
    n_lookups = max(1, len(s.lookup_s))
    out = {
        "session.start_s": session_s,
        "replay.epoch_s": median(s.epoch_s),
        "replay.queue_wait_s": float(sum(s.queue_wait_s)),
        "lake.commits": len(commits),
        "lake.delta_bytes": sum(m.get("delta_bytes", 0) for m in commits),
        "lake.delta_files": sum(m.get("delta_files", 0) for m in commits),
        "lake.snapshot_bytes": gen.tree_bytes(os.path.join(wl.table.path, "snapshots")),
        "lake_compact.compactions": len(folds),
        "lake_compact.bytes_rewritten": sum(m.get("bytes_rewritten", 0) for m in folds),
        "lake_compact.s": float(sum(m.get("seconds", 0.0) for m in folds)),
        "lake.lookup_s": median(s.lookup_s),
        "lake.lookup_rows_scanned": spark_totals.get("lookup", {}).get("records_read", 0) / n_lookups,
        "lake.lookup_files_read": spark_totals.get("lookup", {}).get("files_read", 0) / n_lookups,
        "lake_scan.feed_s": median(s.feed_s),
        "lake_scan.feed_rows": statistics.fmean(s.feed_rows) if s.feed_rows else 0.0,
        "merge.shuffle_write_bytes": spark_totals.get("dedup", {}).get("shuffle_bytes", 0),
        "trace.overhead_frac": overhead,
        **iso,
    }
    for span in SPANS:
        tot = spark_totals.get(span, {})
        for k in SPARK_KEYS:
            out[f"spark.{span}.{k}"] = tot.get(k, 0)
    return out


def compaction_windows(wl) -> list[tuple[float, float, str]]:
    return [
        (m["committed_at"] - m["seconds"], m["committed_at"], "compact")
        for m in wl.table.metrics_history()
        if m.get("compaction") and "committed_at" in m
    ]


def run(args, bench: dict) -> dict:
    import tracing
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        return _run(args, bench, work, tracing, WORKLOADS[args.workload])
    finally:
        stop_jvm(tracing)
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm(tracing, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM it runs in, and wait until the JVM and the
    Python workers it forked have ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while tracing.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _run(args, bench, work, tracing, cls) -> dict:
    t = time.perf_counter()
    spark, session_s = start_spark(work, None)
    t = phase("session", t)
    tracer = tracing.Tracer()
    wl = cls(spark, work, args.seed, args.tiny, tracer)
    measured = args.seconds / 2 if args.trace else args.seconds
    setup = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.setup(measured)
        setup.append(time.perf_counter() - t0)
    t = phase("setup", t)
    wl.warm_up()
    t = phase("warm-up", t)
    with tracing.RssSampler() as rss:
        samples = wl.measure(measured)
    t = phase("measure", t)
    log_samples(samples)
    e2e = end_to_end(samples, median(setup), rss.peak_mb)
    attempted, failed = samples.attempted, samples.failed
    if not args.trace:
        problems = check(wl)
        t = phase("gate", t)
        spark.stop()
        phase("stop", t)
        return finish(bench["end_to_end"], e2e, problems, attempted, failed)

    # traced half: a fresh context with the event log on
    spark.stop()
    eventlog = os.path.join(work, "eventlog")
    spark, _ = start_spark(work, eventlog)
    traced = tracing.Tracer(spark.sparkContext, jobs=True)
    wl.rebind(spark, traced)
    with tracing.RssSampler() as rss:
        samples_t = wl.measure(measured)
    e2e_t = end_to_end(samples_t, median(setup), rss.peak_mb)
    fold_probe(wl)
    iso = isolated(wl)
    problems = check(wl)
    windows = compaction_windows(wl)
    spark.stop()
    totals = tracing.spark_by_span(eventlog, windows)
    overhead = e2e["events_per_s"] / e2e_t["events_per_s"] - 1.0
    layers = per_layer(wl, samples_t, session_s, iso, totals, overhead)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "per_layer": layers,
        "end_to_end_untraced": e2e, "end_to_end_traced": e2e_t,
        "spark_by_span": totals,
        "spans": traced.spans,
    }
    out_dir = os.path.join(ROOT, ".perfbench", "trace")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return finish(bench["per_layer"], layers, problems, attempted + samples_t.attempted,
                  failed + samples_t.failed)


def finish(declared: list[dict], values: dict, problems: list[str],
           attempted: int, failed: int) -> dict:
    names = [m["name"] for m in declared]
    if sorted(names) != sorted(values):
        raise SystemExit(f"metric set differs from BENCHMARK.json: "
                         f"{sorted(set(names) ^ set(values))}")
    for p in problems:
        print(f"correctness: {p}", file=sys.stderr)
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "embulk_spark")) or not os.path.isfile(bench_path):
        print("run from the root of a checkout holding embulk_spark/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    with open(bench_path) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    result = run(args, bench)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
