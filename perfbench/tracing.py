"""Spans around benchmark calls, Spark event-log attribution, and memory.

Every call the benchmark makes into the program runs inside a span. Spans
are always timed, since the end-to-end metrics are built from them. With
tracing on, each span also tags the Spark jobs it starts through
``setJobGroup``, so the event log can attribute task time, CPU time,
shuffle, spill and failed tasks to the span that caused them. Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent); tags Spark jobs when
    ``jobs`` is true."""

    def __init__(self, spark_context=None, jobs: bool = False):
        self.sc = spark_context
        self.jobs = jobs
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1]["name"] if self._stack else None,
               "start": time.time(), **attrs}
        self._stack.append(rec)
        if self.jobs:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.jobs:
                outer = self._stack[-1]["name"] if self._stack else "bench"
                self.sc.setJobGroup(outer, outer)
            self.spans.append(rec)


def spark_by_span(eventlog_dir: str, reassign: list[tuple[float, float, str]] = ()) -> dict:
    """Per job group: task_s, cpu_s, shuffle_bytes (written), spill_bytes,
    failed_tasks, records_read, plus SQL ``files_read`` from the driver's
    scan metrics.

    ``reassign``: (start, end, name) wall-clock windows in seconds; a task
    launched inside one is counted under that name instead of its job
    group (the program compacts inside the commit call, so compaction is
    split out by the windows its own commit metrics report)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_metric: set[int] = set()
    out: dict[str, dict] = {}

    def bucket(name: str) -> dict:
        return out.setdefault(name, {
            "task_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "failed_tasks": 0, "records_read": 0, "files_read": 0,
        })

    def walk_plan(node):
        for m in node.get("metrics", ()):
            if m.get("name") == "number of files read":
                files_metric.add(int(m["accumulatorId"]))
        for c in node.get("children", ()):
            walk_plan(c)

    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    launch = info["Launch Time"] / 1000.0
                    name = stage_group.get(ev["Stage ID"], "untagged")
                    for lo, hi, win in reassign:
                        if lo <= launch <= hi:
                            name = win
                            break
                    b = bucket(name)
                    tm = ev.get("Task Metrics") or {}
                    b["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    b["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    b["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    b["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    if ev["Task End Reason"].get("Reason") != "Success":
                        b["failed_tasks"] += 1
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_group[ev["executionId"]] = ev.get("description") or "untagged"
                    walk_plan(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    walk_plan(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    name = exec_group.get(ev["executionId"], "untagged")
                    for acc, val in ev["accumUpdates"]:
                        if acc in files_metric:
                            bucket(name)["files_read"] += int(val)
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root_pid: int) -> list[tuple[int, int, str]]:
    """(pid, parent pid, command name) of every live process below
    ``root_pid``."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # the process ended while listing
            head, tail = stat.rsplit(")", 1)
            comm[int(entry)] = head.split("(", 1)[1]
            children.setdefault(int(tail.split()[1]), []).append(int(entry))
    out, todo = [], [(c, root_pid) for c in children.get(root_pid, ())]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent, comm.get(pid, "")))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def process_tree_mb(root_pid: int) -> float:
    """Memory of the processes ``root_pid`` started: the driver JVM (its
    resident set) plus the Python workers it forks (their proportional
    set, so pages a fork shares with its parent count once), in MiB.
    Short-lived commands the JVM spawns are left out: until they exec they
    share the JVM's address space and would count it twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid, parent, comm in descendants(root_pid):
        try:
            if comm == "java" and parent == root_pid:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            elif comm.startswith("python"):
                total += _pss_bytes(pid)
        except OSError:
            continue  # the process ended between listing and reading
    return total / (1024 * 1024)


class RssSampler:
    """Samples the process tree's resident memory on a background thread;
    ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, process_tree_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, process_tree_mb(os.getpid()))
