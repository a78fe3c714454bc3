"""Emit STREAM_EQUIV.json — machine-readable streaming batch-equivalence.

The driver's hash gate cannot execute streaming queries' multi-batch
semantics, so this artifact records, per §2B.10 query:

- the availableNow-drained streaming result vs its DuckDB batch oracle
  at sf0.01, through ``oracle_compare.check_key`` (the per-key check
  LOCAL_CORRECTNESS.json commits: row count, schema, canonical values
  and per-column kind parity);
- the outcome of the multi-batch watermark TIMING tests
  (tests/test_streaming.py run via pytest), which no batch oracle can
  express;
- per-key STATE WITNESSES (round-13 verdict item 5): each drain's
  micro-batch progress is captured via
  streaming.runner.LAST_DRAIN_PROGRESS, and the artifact records, per
  stateful operator, peak/final numRowsTotal, total numRowsRemoved,
  peak memoryUsedBytes, batch count, and the final event-time
  watermark. For the keys in WATERMARK_EVICTION_EXPECTED the
  generator ASSERTS (rc=1 on violation) that the watermark advanced
  past the epoch and that rows were actually removed from state —
  the checkable form of the 100 TB claim that their state is
  watermark-BOUNDED, not accreting.

Exit code 1 when any key disagrees with its oracle
(``all_equivalent: false``) or violates watermark eviction.

Run from the repo root:  python scripts/gen_stream_equiv.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.oracle_compare import (  # noqa: E402
    Oracle,
    check_key,
    key_verdict,
    provenance,
)
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402
from bigdata_financial_reporting_spark.session import get_session  # noqa: E402
from bigdata_financial_reporting_spark.streaming import runner  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: Keys whose stateful operators MUST evict on watermark during the
#: availableNow drain: their fixtures stage multiple stream files, so
#: the watermark advances between micro-batches and the final batch
#: removes expired state. Observed at sf0.01 (e.g.
#: stream_dedup_watermark: 750 rows in state at batch 0, 750 removed /
#: 0 left at batch 1). A key here with no removals or a stuck epoch
#: watermark means the eviction path regressed — that state would
#: accrete without bound on a real continuous run.
WATERMARK_EVICTION_EXPECTED = (
    "stream_dedup_watermark",
    "stream_dedup_exactly_once",
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_stream_full_outer",
)

_EPOCH = "1970-01-01T00:00:00.000Z"


def state_witness(progress: list[dict]) -> dict:
    """Summarize a drain's micro-batch progress into per-operator
    state metrics + watermark trajectory."""
    ops: dict[str, dict] = {}
    final_wm = None
    for p in progress:
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm is not None:
            final_wm = wm
        for o in p.get("stateOperators") or []:
            s = ops.setdefault(
                o.get("operatorName", "?"),
                {
                    "peak_rows": 0,
                    "final_rows": 0,
                    "rows_removed_total": 0,
                    "peak_memory_bytes": 0,
                },
            )
            s["peak_rows"] = max(s["peak_rows"], o.get("numRowsTotal") or 0)
            s["final_rows"] = o.get("numRowsTotal") or 0
            s["rows_removed_total"] += o.get("numRowsRemoved") or 0
            s["peak_memory_bytes"] = max(
                s["peak_memory_bytes"], o.get("memoryUsedBytes") or 0
            )
    return {
        "n_batches": len(progress),
        "final_watermark": final_wm,
        "operators": ops,
    }


def main() -> int:
    spark = get_session(
        "stream-equiv",
        extra_conf={
            "spark.sql.shuffle.partitions": "16",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    oracle = Oracle(SF_DIR)

    queries = {}
    eviction_violations = []
    for name, spec in QUERIES.items():
        if spec.category != "streaming":
            continue
        t0 = time.time()
        runner.LAST_DRAIN_PROGRESS[:] = []
        entry = check_key(spark, spec, SF_DIR, oracle)[0]
        entry["wall_sec"] = round(time.time() - t0, 3)
        witness = state_witness(runner.LAST_DRAIN_PROGRESS)
        if witness["n_batches"]:
            entry["state"] = witness
        if name in WATERMARK_EVICTION_EXPECTED:
            # eviction witness: either the operator reports removals,
            # or its state visibly shrank from peak to final batch —
            # the full-outer join's cleanup path clears state (562→0
            # at sf0.01) while reporting numRowsRemoved=0, so the
            # peak→final drop is the authoritative signal there
            evicted = any(
                o["rows_removed_total"] > 0 or o["final_rows"] < o["peak_rows"]
                for o in witness["operators"].values()
            )
            wm_ok = witness["final_watermark"] not in (None, _EPOCH)
            entry["watermark_bounded"] = wm_ok and evicted
            if not entry["watermark_bounded"]:
                eviction_violations.append(
                    f"{name}: watermark={witness['final_watermark']} "
                    f"operators={witness['operators']}"
                )
        queries[name] = entry

    timing = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_streaming.py", "-q", "--tb=no"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    tail = [ln for ln in timing.stdout.strip().splitlines() if ln.strip()]
    out = {
        "_provenance": provenance(),
        "sf_dir": SF_DIR,
        "queries": queries,
        "all_equivalent": all(key_verdict(e) == "green" for e in queries.values()),
        "watermark_timing_tests": {
            "command": "pytest tests/test_streaming.py",
            "exit_code": timing.returncode,
            "summary": tail[-1] if tail else "",
        },
        "watermark_eviction_expected": list(WATERMARK_EVICTION_EXPECTED),
        "watermark_eviction_violations": eviction_violations,
    }
    path = os.path.join(REPO, "STREAM_EQUIV.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    oracle.close()
    spark.stop()
    if eviction_violations:
        print(
            "WATERMARK EVICTION VIOLATIONS:\n  "
            + "\n  ".join(eviction_violations),
            file=sys.stderr,
        )
    return 0 if out["all_equivalent"] and not eviction_violations else 1


if __name__ == "__main__":
    raise SystemExit(main())
