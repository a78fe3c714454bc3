#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one process, one
operation at a time, on ``local[<cores>]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

A run generates its inputs from ``--seed`` under ``.perfbench/`` in the
checkout, starts the session, runs an untimed warm-up (one pass that
collects every result, then the workload's ``warm`` passes of the
operation), then times whole passes over the workload's operations for
about ``--seconds``. It checks every result (registry
keys against their DuckDB oracles, report CSVs against DuckDB
recomputing the report) and prints, as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the session also writes Spark's
event log and the metrics are the per-layer ones (see ``tracing.py``).
The line before it is a detail record: provenance, set-up parts, the
tail percentile used, error rate and per-key latencies.
``--workload all`` runs every workload untraced and traced, in child
processes, and prints one table with the tracing overhead.

Times here are full results through the ``noop`` sink. They cannot be
compared with ``bench.py``/``BENCH_r*.json``, which time ``count()``:
Catalyst prunes Window nodes and aggregate columns a count never reads.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "bigdata_financial_reporting_spark"
# Cores the run is pinned to, JVM included. On a virtual machine the
# hypervisor steals time from busy vCPUs when its host is loaded: keeping
# the other vCPUs idle cut steal from 30-40 s to 0.3-4 s per run on a
# 4-vCPU host, and the operations at this scale are driver-bound, so two
# task slots lose them little.
CORES = 2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest nearest-rank
    percentile with at least ten samples above it; the median when the
    run has fewer than twenty samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0, n // 2
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def key_median(latencies: list[float], labels: list[str], keyed: bool) -> float:
    """Median latency per operation: with registry keys, the mean of each
    key's median, so the value cannot jump from one key's samples to
    another's between runs; for ``report``, the median of all requests."""
    if not keyed:
        return statistics.median(latencies)
    groups: dict[str, list[float]] = {}
    for lab, x in zip(labels, latencies):
        groups.setdefault(lab, []).append(x)
    return statistics.fmean(statistics.median(xs) for xs in groups.values())


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_one(args, spec: dict) -> dict:
    nproc = len(os.sched_getaffinity(0))
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CORES])
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = {d: os.path.join(work, d) for d in ("tmp", "local", "data", "out", "events")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        return measure(args, spec, work, dirs, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spec: dict, work: str, dirs: dict, nproc: int) -> dict:
    import duckdb
    import numpy as np

    from bigdata_financial_reporting_spark import runner
    from bigdata_financial_reporting_spark.oracle_compare import is_jvm_death, provenance
    from bigdata_financial_reporting_spark.session import get_session

    import datagen
    import tracing
    import workloads as wl

    w = wl.WORKLOADS[args.workload]
    report = not w.keys
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    rng = np.random.default_rng([args.seed, 3])
    tr = tracing.Tracer(traced)

    t = time.perf_counter()
    if report:
        csv_path = os.path.join(dirs["data"], "market_data.csv")
        days = datagen.write_market_csv(csv_path, args.seed, wl.REPORT_ASSETS, wl.REPORT_DAYS)
    else:
        datagen.write_tables(dirs["data"], args.seed, w.scale)
    staging_s = time.perf_counter() - t

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={work}"
        ),
    }
    if traced:
        conf.update(tracing.event_log_conf(dirs["events"]))
    t = time.perf_counter()
    spark = get_session("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        listener = None
        if traced:
            listener = tracing.StreamProgress()
            spark.streams.addListener(listener)
            runner.read_csv = tr.wrap("read_csv", runner.read_csv)
            runner.write_single_csv = tr.wrap("write_csv", runner.write_single_csv, plan_arg=True)

        # Whole passes in seeded order. The warm-up collects every key's
        # result once for the correctness gate (for ``report``, its first
        # request), then runs ``w.warm`` untimed passes of the operation.
        n_pass = w.passes(args.seconds)
        if report:
            ranges = wl.report_ranges(rng, days, 1 + w.warm + n_pass)
            outs = [os.path.join(dirs["out"], f"op{i}") for i in range(len(ranges))]
            ops = [
                (f"{lo}..{hi}", functools.partial(wl.report_op, spark, csv_path, lo, hi, out, tr))
                for (lo, hi), out in zip(ranges, outs)
            ]
            n_warm = 1 + w.warm
        else:
            ops = [
                (k, functools.partial(wl.registry_op, spark, k, dirs["data"], tr))
                for _ in range(w.warm + n_pass)
                for k in rng.permutation(list(w.keys)).tolist()
            ]
            n_warm = w.warm * len(w.keys)
        warm, ops = ops[:n_warm], ops[n_warm:]

        t = time.perf_counter()
        tr.on = False  # warm-up operations are not measured
        digests = {k: wl.registry_digest(spark, k, dirs["data"]) for k in w.keys}
        for _, call in warm:
            call()
        tr.on = traced
        warmup_s = time.perf_counter() - t
        setup_s = staging_s + session_s + warmup_s

        latencies, labels, errors = [], [], {}
        t_all = time.perf_counter()
        for label, call in ops:
            t = time.perf_counter()
            try:
                with tr.span("op") as s:
                    if s is not None:
                        s.label = label
                    call()
            except Exception as exc:  # counted in error_rate
                errors[len(latencies)] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"perfbench: {label}: {errors[len(latencies)]}", file=sys.stderr)
                if is_jvm_death(exc):
                    raise
            latencies.append(time.perf_counter() - t)
            labels.append(label)
        elapsed = time.perf_counter() - t_all

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)

        # Correctness gate: a wrong result fails every operation it stands for.
        if report:
            con = duckdb.connect()
            bad = [
                i for i, (lo, hi) in enumerate(ranges)
                if i - n_warm not in errors and not wl.report_check(con, csv_path, lo, hi, outs[i])
            ]
            con.close()
            wrong_keys = [f"{ranges[i][0]}..{ranges[i][1]}" for i in bad]
            wrong = {i - n_warm for i in bad if i >= n_warm}
        else:
            green = wl.registry_oracle(dirs["data"], digests)
            wrong_keys = sorted(k for k, ok in green.items() if not ok)
            wrong = {i for i, k in enumerate(labels) if k in wrong_keys}
        failed = len(set(errors) | wrong)
        attempted = len(latencies)

        info = {
            "workload": args.workload,
            "seed": args.seed,
            "traced": traced,
            "nproc": nproc,
            "cores": cores,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark_version": spark.version,
            "duckdb_version": duckdb.__version__,
            "java_version": spark._jvm.System.getProperty("java.version"),
            **provenance(),
        }
    finally:
        stop_session(spark)

    bad_ops = set(errors) | wrong
    lat_ok = [math.inf if i in bad_ops else x for i, x in enumerate(latencies)]
    tail_v, tail_p, beyond = tail(lat_ok)
    values = {
        "setup_s": setup_s,
        "ops_per_s": (attempted - failed) / elapsed,
        "latency_p50_s": key_median(lat_ok, labels, not report),
        "latency_tail_s": tail_v,
        "success_rate": (attempted - failed) / attempted,
    }
    if traced:
        values = tracing.layer_metrics(tr.ops, tracing.parse_event_log(dirs["events"]),
                                     listener.batches, cores, report)
        values["session.start_s"] = session_s
        values["process.peak_rss_mb"] = peak_rss_mb
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracing.dump_spans(tr.ops, os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.json"))
    declared = spec["per_layer" if traced else "end_to_end"]
    detail = {
        "provenance": info,
        "setup": {"staging_s": staging_s, "session_s": session_s, "warmup_s": warmup_s},
        "passes": {"warm": w.warm, "timed": n_pass},
        "error_rate": {"value": failed / attempted, "unit": "fraction"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "tail": {"percentile": tail_p, "samples": attempted, "beyond": beyond},
        "wrong_results": wrong_keys,
        "errors": {labels[i]: e for i, e in errors.items()},
        "latencies_s": {
            k: [x for lab, x in zip(labels, latencies) if lab == k] for k in w.keys or labels
        },
    }
    print(json.dumps(detail))
    return {
        "correct": not wrong_keys and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in declared},
    }


def run_all(args, spec: dict) -> None:
    """Every workload untraced and traced; one table, tracing overhead."""
    rows = []
    for w in spec["workloads"]:
        res = {}
        for tr in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(tr)]
            lines = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True
                                   ).stdout.strip().splitlines()
            res[tr] = (json.loads(lines[-2]), json.loads(lines[-1]))
        (d0, r0), (_, r1) = res[0], res[1]
        m = dict(r0["metrics"])
        m["error_rate"] = d0["error_rate"]
        m["peak_rss_mb"] = d0["peak_rss_mb"]
        untraced, traced = m["ops_per_s"]["value"], r1["metrics"]["trace.ops_per_s"]["value"]
        m["trace.overhead"] = {"value": (untraced - traced) / untraced, "unit": "fraction"}
        rows.append((w["name"], r0["correct"] and r1["correct"], m, r1["metrics"]))
    for name, ok, m, layers in rows:
        print(f"== {name}  correct={ok}")
        for k, v in m.items():
            print(f"  {k:<24} {v['value']:>14.4f} {v['unit']}")
        for k, v in layers.items():
            print(f"  {k:<36} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({name: {"correct": ok, "metrics": m, "per_layer": layers}
                      for name, ok, m, layers in rows}))


def main(argv=None) -> None:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        fail(f"engine package {ENGINE}/ not found next to {os.path.basename(HERE)}/")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        run_all(args, spec)
        return
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; choose from {names} or 'all'")
    result = run_one(args, spec)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
