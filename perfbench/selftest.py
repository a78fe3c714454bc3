#!/usr/bin/env python3
"""Smoke self-test of the benchmark on tiny inputs (the sf0.001 shape).

For each workload it runs one operation twice, each time in a child
process on seed 7:

- untraced, with one result deliberately corrupted: every end-to-end
  metric of ``BENCHMARK.json`` must be printed with its unit, and the
  corrupted operation must be counted as failed (``error_rate`` 1);
- traced: every per-layer metric must be printed with its unit. On
  ``analytics`` the one operation is the stream key
  ``stream_content_dedup``, and the jobs the event-log parser attributes
  to it must be at least the micro-batches the listener reported.

Run from the repository root: ``python3 perfbench/selftest.py``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ONE_KEY = {"analytics": "stream_content_dedup"}


def child(workload: str, trace: int, corrupt: bool) -> None:
    """Shrink ``workload`` to one operation on tiny inputs, optionally
    corrupt its result, then run the benchmark in this process."""
    sys.path.insert(0, ROOT)
    import run
    import workloads as wl

    w = wl.WORKLOADS[workload]
    keys = (ONE_KEY[workload],) if w.keys else ()
    wl.WORKLOADS[workload] = dataclasses.replace(w, keys=keys, pass_s=1e9, warm=0, scale=0.001)
    if corrupt and keys:
        digest = wl.registry_digest

        def corrupted(spark, key, data_dir):
            d = digest(spark, key, data_dir)
            return {**d, "canon_sha": "0" * 64}

        wl.registry_digest = corrupted
    elif corrupt:
        report_op = wl.report_op

        def corrupted(spark, csv_path, lo, hi, out_dir, tr):
            report_op(spark, csv_path, lo, hi, out_dir, tr)
            path = os.path.join(out_dir, "daily_returns.csv")
            with open(path) as fh:
                lines = fh.read().splitlines()
            cells = lines[-1].split(",")
            cells[1] = str(float(cells[1]) + 1.0)
            lines[-1] = ",".join(cells)
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")

        wl.report_op = corrupted
    run.main(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)])


def check(workload: str, trace: int, spec: dict) -> list[str]:
    corrupt = trace == 0
    cmd = [sys.executable, __file__, "--child", workload, str(trace), str(int(corrupt))]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        return [f"exit {proc.returncode}: {proc.stderr[-1500:]}"]
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    problems = []
    declared = spec["per_layer" if trace else "end_to_end"]
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            problems.append(f"metric {m['name']} missing or unit != {m['unit']}: {got}")
    extra = set(result["metrics"]) - {m["name"] for m in declared}
    if extra:
        problems.append(f"undeclared metrics {sorted(extra)}")
    if result["attempted"] != 1:
        problems.append(f"attempted {result['attempted']} operations, want 1")
    if corrupt:
        if result["failed"] != 1 or result["correct"] or detail["error_rate"]["value"] != 1.0:
            problems.append(f"corrupted result not counted: {result} {detail['error_rate']}")
    elif not result["correct"] or result["failed"]:
        problems.append(f"clean run not correct: {result}")
    if trace and workload == "analytics":
        m = result["metrics"]
        jobs, batches = m["spark.jobs"]["value"], m["streaming.batches"]["value"]
        if not batches or jobs < batches:
            problems.append(f"stream op: {jobs} jobs < {batches} listener batches")
    return problems


def main() -> None:
    if len(sys.argv) == 5 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]), sys.argv[4] == "1")
        return
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check(w["name"], trace, spec)
            failures += bool(problems)
            status = "FAIL" if problems else "ok"
            print(f"{status:<4} {w['name']} trace={trace}", *problems, sep="\n  ", flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
