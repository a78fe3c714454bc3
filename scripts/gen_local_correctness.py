"""Emit LOCAL_CORRECTNESS.json — the full mirror of the driver's t2
gate, covering EVERY registry key (scripts/check_keys.py runs the same
per-key check, ``oracle_compare.check_key``, for chosen keys).

Per query: Spark vs DuckDB row count, column-name set, the
driver-strict canonical value match, and per-column type-kind parity —
all through the ONE shared fetch path in
``bigdata_financial_reporting_spark.oracle_compare`` (collect +
fetchall: NULL is None on both sides; no pandas coercion — the
round-6 verdict flagged three harnesses with three NULL renderings).
Rows-only (approximate/streaming) keys record row count + non-empty.

The artifact carries the git SHA + timestamp it ran against
(provenance — a stale artifact is mechanically detectable).

Run from the repo root:  python scripts/gen_local_correctness.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.oracle_compare import (  # noqa: E402
    Oracle,
    check_key,
    entry_green,
    provenance,
)
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402
from bigdata_financial_reporting_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    spark = get_session(
        "local-correctness",
        extra_conf={
            "spark.sql.shuffle.partitions": "16",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    oracle = Oracle(SF_DIR)

    out = {}
    t_all = time.time()
    for name, spec in QUERIES.items():
        try:
            out[name] = check_key(spark, spec, SF_DIR, oracle)[0]
        except Exception as exc:  # one broken query must not void the run
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    oracle_keys = [n for n, e in out.items() if e.get("mode") == "oracle"]
    ok = [n for n in oracle_keys if entry_green(out[n])]
    record = {
        **provenance(),
        "sf_dir": SF_DIR,
        "n_queries": len(out),
        "n_oracle": len(oracle_keys),
        "n_oracle_fully_green": len(ok),
        "oracle_red": [n for n in oracle_keys if n not in ok],
        "n_rows_only": sum(1 for e in out.values() if e.get("mode") == "rows_only"),
        "wall_sec": round(time.time() - t_all, 1),
        "queries": out,
    }
    path = os.path.join(REPO, "LOCAL_CORRECTNESS.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=2)
    print(
        f"{record['n_oracle_fully_green']}/{record['n_oracle']} oracle queries "
        f"fully green, {record['n_rows_only']} rows-only, "
        f"{record['wall_sec']}s -> {path}"
    )
    oracle.close()
    spark.stop()
    return 0 if not record["oracle_red"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
