"""Self-test of the benchmark.

Run from the root of a checkout:

    python3 perfbench/selftest.py

1. Every workload of ``BENCHMARK.json``, on tiny inputs, untraced and
   traced, prints a result line whose metrics are exactly the declared
   end-to-end (resp. per-layer) metrics, each a finite number with the
   declared unit, and passes the correctness gate.
2. The gate accepts a real lake's published state and rejects it once a
   single url's text is corrupted, a url is dropped, or a winner's seq is
   wrong.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def check_result_lines(bench: dict) -> list[str]:
    errors = []
    for wl in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl["name"],
                   "--seed", "7", "--seconds", "3", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{wl['name']} --trace {trace}"
            if proc.returncode != 0:
                errors.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                errors.append(f"{tag}: result keys {sorted(res)}")
            if res.get("correct") is not True or res.get("attempted", 0) < 1:
                errors.append(f"{tag}: correct={res.get('correct')} attempted={res.get('attempted')}")
            got = res.get("metrics", {})
            want = {m["name"]: m["unit"] for m in declared}
            if sorted(got) != sorted(want):
                errors.append(f"{tag}: metrics differ: {sorted(set(got) ^ set(want))}")
            for name, m in got.items():
                v = m.get("value")
                if not isinstance(v, (int, float)) or not math.isfinite(v):
                    errors.append(f"{tag}: {name} = {v!r}")
                if m.get("unit") != want.get(name):
                    errors.append(f"{tag}: {name} unit {m.get('unit')!r}")
            print(f"selftest: {tag}: {len(got)} metrics", file=sys.stderr)
    return errors


def check_gate() -> list[str]:
    """Run one tiny backfill round for real, then tamper with its output."""
    import shutil

    sys.path[:0] = [ROOT, HERE]
    import gate
    import run
    import tracing
    from workloads import BackfillBulk, Samples

    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark, _ = run.start_spark(work, None)
    errors = []
    try:
        wl = BackfillBulk(spark, work, 7, True, tracing.Tracer())
        wl.setup(1.0)
        wl.round(Samples(), "gate")
        actual = wl.table.published().select("url", "seq", "text").toPandas()
        expected = gate.expected_from_events(wl.applied_events())
        if gate.compare(actual, expected):
            errors.append(f"gate rejects a correct lake: {gate.compare(actual, expected)}")
        victim = actual.index[len(actual) // 2]
        tampered = {
            "one url's text corrupted": actual.assign(
                text=actual["text"].where(actual.index != victim, actual.loc[victim, "text"] + "x")),
            "one url dropped": actual.drop(index=victim),
            "one winner's seq wrong": actual.assign(
                seq=actual["seq"].where(actual.index != victim, actual.loc[victim, "seq"] - 1)),
        }
        for what, frame in tampered.items():
            if not gate.compare(frame, expected):
                errors.append(f"gate accepts a lake with {what}")
            else:
                print(f"selftest: gate rejects {what}", file=sys.stderr)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = check_gate() + check_result_lines(bench)
    for e in errors:
        print(f"FAIL {e}")
    print("selftest ok" if not errors else f"selftest: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
