"""Spans, the Spark event-log parser and the per-layer metrics.

The traced run wraps each operation in a span tree kept in memory::

    op ─┬─ build      the registry call (eager training jobs, stream drains)
        ├─ plan       Catalyst phases of the final plan, read from its tracker
        ├─ action     the full-result sink, or ``run_report``
        │    ├─ read_csv    (report only)
        │    └─ write_csv   (report only; holds a ``plan`` span of its own)
        └─ release    ``release_operator_caches()``

After the session stops, :func:`parse_event_log` reads Spark's own file
event log with stdlib ``json``. Each job becomes a child of the innermost
span that contains its submission time, and each stage a child of its
job. The benchmark runs one operation at a time, so this attribution is
exact. It also catches the jobs that streaming queries launch from their
own threads under their own job groups. Streaming progress comes from a
Python ``StreamingQueryListener`` registered on the session.

A span's self time is its duration minus the part covered by its
children. :func:`layer_metrics` turns spans, log and listener records
into per-operation means, one value per per-layer metric.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from bigdata_financial_reporting_spark.plans import inspect as plans_inspect

PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float  # epoch milliseconds
    end: float = 0.0
    parent: Span | None = None
    children: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    label: str = ""


class Tracer:
    """Records spans when ``on``; otherwise every call is a no-op, so
    the untraced run executes the same operation code."""

    def __init__(self, on: bool):
        self.on = on
        self.ops: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time() * 1000.0, parent=parent)
        if parent is None:
            self.ops.append(s)
        else:
            parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time() * 1000.0
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to the current operation's counter ``name``."""
        if self.on and self._stack:
            op = self._stack[0]
            op.counts[name] = op.counts.get(name, 0.0) + value

    def plan(self, df) -> None:
        """Plan span: force the physical plan, then read Catalyst's phase
        tracker, the executed exchanges and the cache reads."""
        if not self.on:
            return
        with self.span("plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            plan_ms = sum(
                phases.get(p).get().durationMs()
                for p in CATALYST_PHASES
                if phases.get(p).isDefined()
            )
            self.count("catalyst.plan_s", plan_ms / 1000.0)
            self.count("plans.exchanges", plans_inspect.count_exchanges(df))
            builds, scans = cache_reads(plans_inspect.physical_plan(df))
            if builds:
                self.count("cache.builds", builds)
                self.count("cache.scans", scans)

    def cache_bytes(self, spark) -> None:
        """Memory plus disk held by cached RDDs right now."""
        if self.on:
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            self.count(
                "operators.cache.bytes", sum(i.memSize() + i.diskSize() for i in infos)
            )

    def wrap(self, name: str, fn, plan_arg: bool = False):
        """``fn`` inside a span named ``name``; with ``plan_arg`` the
        DataFrame passed first also gets a plan span."""

        def traced(*args, **kwargs):
            with self.span(name):
                if plan_arg:
                    self.plan(args[0])
                return fn(*args, **kwargs)

        return traced


def cache_reads(plan: str) -> tuple[int, int]:
    """(distinct cached builds, ``InMemoryTableScan`` references that
    execute) in simple-mode plan text.

    The printer repeats a cached build's subtree under every scan of it,
    so raw text counts a nested scan once per printed copy. This splits
    the plan into distinct cached bodies with the same canonical form and
    extractor that ``plans.inspect.count_exchanges`` uses, then counts
    each body's own scans once."""
    plan = re.sub(r"#\d+", "#x", re.sub(r"plan_id=\d+", "plan_id=x", plan))
    cached: dict[str, int] = {}
    plans_inspect._collect_cached_exchanges(plan.splitlines(), cached)
    scans = _own_scans(plan.splitlines()) + sum(
        _own_scans(body.split("\n")[1:]) for body in cached
    )
    return len(cached), scans


def _own_scans(lines: list[str]) -> int:
    """Scan lines in ``lines`` outside any printed ``InMemoryRelation``
    body (those are counted under their own cached key)."""
    depth = plans_inspect._node_depth
    scans, i = 0, 0
    while i < len(lines):
        line = lines[i]
        i += 1
        if "InMemoryRelation" in line:
            d = depth(line)
            while i < len(lines) and (not lines[i].strip() or depth(lines[i]) > d):
                i += 1
        elif "InMemoryTableScan" in line:
            scans += 1
    return scans


class StreamProgress(StreamingQueryListener):
    """Keeps one record per micro-batch, stamped with its trigger time."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ts = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        ops = p.stateOperators or []
        dur = p.durationMs or {}
        self.batches.append({
            "ts": ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0,
            "input_rows": p.numInputRows,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "wal_commit_ms": dur.get("walCommit", 0) + dur.get("commitOffsets", 0),
            "add_batch_ms": dur.get("addBatch", 0),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs for one plain-JSON, uncompressed, unrolled log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict:
    """Jobs, stages and per-stage task totals from the one log file in
    ``log_dir``: ``{"jobs": {id: {...}}, "stages": {id: {...}}}``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "start": None, "end": None, "tasks": 0, "failed_tasks": 0,
            "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
            "shuffle_read": 0.0, "shuffle_write": 0.0, "spill": 0.0,
            "input_bytes": 0.0, "input_records": 0.0, "output_bytes": 0.0,
            **{m: 0.0 for m in PY_METRICS.values()},
        })

    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"submitted": e["Submission Time"], "stages": e["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["completed"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                s = stage(info["Stage ID"])
                s["start"], s["end"] = info.get("Submission Time"), info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                s = stage(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                s["tasks"] += 1
                if info.get("Failed") or info.get("Killed") or info.get("Attempt", 0) > 0:
                    s["failed_tasks"] += 1
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                rd = m.get("Shuffle Read Metrics", {})
                s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                wr = m.get("Shuffle Write Metrics", {})
                s["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
                s["spill"] += m.get("Disk Bytes Spilled", 0)
                s["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                s["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                s["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key:
                        s[key] += float(acc.get("Update") or 0)
    return {"jobs": jobs, "stages": stages}


def _innermost(spans: list[Span], t: float) -> Span | None:
    for s in spans:
        if s.start <= t <= s.end:
            return _innermost(s.children, t) or s
    return None


def _union_ms(intervals, lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > cur:
            total += b - max(a, cur)
            cur = b
    return total


def attach(ops: list[Span], log: dict) -> None:
    """Add each job as a span under the innermost benchmark span that
    contains its submission time, and each stage that ran as a span under
    the first job that lists it; add the stages' totals to the job's
    operation.

    Parents are looked up before any job span is added, so a job that
    starts while another runs is never nested under it. A stage keeps
    its ID when a later job reuses its shuffle output (an AQE map-stage
    job, then the result job), so each stage ID is counted once."""
    placed = [(job, _innermost(ops, job["submitted"])) for _, job in sorted(log["jobs"].items())]
    seen: set[int] = set()
    for job, parent in placed:
        ran = [sid for sid in job["stages"] if sid not in seen]
        seen.update(ran)
        if parent is None:
            continue
        js = Span("job", job["submitted"], job.get("completed", job["submitted"]), parent)
        parent.children.append(js)
        in_build, op = False, parent
        while True:
            in_build = in_build or op.name == "build"
            if op.parent is None:
                break
            op = op.parent
        c = op.counts
        c["spark.jobs"] = c.get("spark.jobs", 0) + 1
        if in_build:
            c["queries.build_jobs"] = c.get("queries.build_jobs", 0) + 1
        for sid in ran:
            st = log["stages"].get(sid)
            if not st or st["start"] is None:
                continue  # skipped: its shuffle output was reused
            js.children.append(Span("stage", st["start"], st["end"], js))
            for key, val in (
                ("spark.stages", 1),
                ("spark.tasks", st["tasks"]),
                ("spark.failed_tasks", st["failed_tasks"]),
                ("spark.executor_run_s", st["run_ms"] / 1e3),
                ("spark.executor_cpu_s", st["cpu_ns"] / 1e9),
                ("spark.gc_s", st["gc_ms"] / 1e3),
                ("spark.shuffle_write_bytes", st["shuffle_write"]),
                ("spark.shuffle_read_bytes", st["shuffle_read"]),
                ("spark.spill_bytes", st["spill"]),
                ("sources.input_bytes", st["input_bytes"]),
                ("sources.input_records", st["input_records"]),
                ("sources.scans_per_op", 1 if st["input_records"] > 0 else 0),
                ("writers.output_bytes", st["output_bytes"]),
                ("python.boot_s", st["python.boot_s"] / 1e3),
                ("python.total_s", st["python.total_s"] / 1e3),
                ("python.bytes_sent", st["python.bytes_sent"]),
                ("python.bytes_received", st["python.bytes_received"]),
            ):
                c[key] = c.get(key, 0) + val


def self_times(span: Span, out: dict[str, float]) -> None:
    """Accumulate ``self.<name>_s`` for ``span`` and its descendants."""
    covered = _union_ms([(c.start, c.end) for c in span.children], span.start, span.end)
    key = f"self.{span.name}_s"
    out[key] = out.get(key, 0.0) + max(0.0, span.end - span.start - covered) / 1e3
    for c in span.children:
        self_times(c, out)


def layer_metrics(
    ops: list[Span], log: dict, batches: list[dict], cores: int, report: bool
) -> dict:
    """Per-operation means of every per-layer metric."""
    attach(ops, log)
    n = len(ops)
    tot: dict[str, float] = {}
    for op in ops:
        for k, v in op.counts.items():
            tot[k] = tot.get(k, 0.0) + v
        stages = _stage_intervals(op)
        tot["spark.driver_gap_s"] = tot.get("spark.driver_gap_s", 0.0) + (
            op.end - op.start - _union_ms(stages, op.start, op.end)
        ) / 1e3
        for name, key in (
            ("build", "queries.build_s"),
            ("read_csv", "sources.read_csv_s"),
            ("write_csv", "writers.write_s"),
        ):
            tot[key] = tot.get(key, 0.0) + _span_seconds(op, name)
        self_times(op, tot)
        for b in batches:
            if op.start <= b["ts"] <= op.end:
                tot["streaming.batches"] = tot.get("streaming.batches", 0) + 1
                for k in ("input_rows", "state_rows", "state_memory_bytes"):
                    tot[f"streaming.{k}"] = tot.get(f"streaming.{k}", 0) + b[k]
                for k in ("state_commit", "wal_commit", "add_batch"):
                    tot[f"streaming.{k}_s"] = tot.get(f"streaming.{k}_s", 0) + b[f"{k}_ms"] / 1e3
    wall = sum(op.end - op.start for op in ops) / 1e3
    m = {k: v / n for k, v in tot.items()}
    for k in ("cache.builds", "cache.scans"):
        m.pop(k, None)
    m["operators.cache.reads_per_build"] = (
        tot["cache.scans"] / tot["cache.builds"] if tot.get("cache.builds") else 0.0
    )
    m["spark.slot_utilization"] = tot.get("spark.executor_run_s", 0.0) / (wall * cores)
    m["writers.bytes_per_input_byte"] = (
        tot.get("writers.output_bytes", 0.0) / tot["sources.input_bytes"]
        if tot.get("sources.input_bytes") else 0.0
    )
    m["runner.jobs_per_report"] = m.get("spark.jobs", 0.0) if report else 0.0
    m["trace.ops_per_s"] = n / wall
    return m


def _span_seconds(span: Span, name: str) -> float:
    """Total duration of the spans called ``name`` under ``span``."""
    return sum(
        (c.end - c.start) / 1e3 if c.name == name else _span_seconds(c, name)
        for c in span.children
    )


def _stage_intervals(span: Span) -> list[tuple[float, float]]:
    out = []
    for c in span.children:
        if c.name == "stage":
            out.append((c.start, c.end))
        else:
            out.extend(_stage_intervals(c))
    return out


def dump_spans(ops: list[Span], path: str) -> None:
    """Write the span trees as JSON, one object per operation."""

    def tree(s: Span) -> dict:
        return {
            "name": s.name, "label": s.label, "start_ms": s.start, "end_ms": s.end,
            **({"counts": s.counts} if s.counts else {}),
            "children": [tree(c) for c in s.children],
        }

    with open(path, "w") as fh:
        json.dump([tree(op) for op in ops], fh)
