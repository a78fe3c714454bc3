"""Emit LOCAL_CORRECTNESS.json — the full mirror of the driver's t2
gate, covering EVERY registry key (scripts/check_keys.py runs the same
per-key check, ``oracle_compare.check_key``, for chosen keys).

Per query: Spark vs DuckDB row count, column-name set, the
driver-strict canonical value match, and per-column type-kind parity —
all through the ONE shared fetch path in
``bigdata_financial_reporting_spark.oracle_compare`` (collect +
fetchall: NULL is None on both sides; no pandas coercion). The loop is
``oracle_compare.sweep``: a key whose check raises is red, a JVM death
aborts with rc 3 and writes nothing, and the artifact carries the git
SHA + timestamp it ran against.

Run from the repo root:  python scripts/gen_local_correctness.py
Exit code: 0 all green (timeouts listed), 1 any red key, 3 JVM death.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.oracle_compare import (  # noqa: E402
    Oracle,
    check_key,
    sweep,
)
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402
from bigdata_financial_reporting_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def build(queries: dict, v: dict) -> dict:
    return {
        "sf_dir": SF_DIR,
        "n_queries": len(queries),
        "n_oracle": sum(1 for e in queries.values() if e.get("mode") == "oracle"),
        "n_oracle_fully_green": len(v["green"]),
        "oracle_red": v["red"],
        "timeouts": v["timeout"],
        "n_rows_only": sum(
            1 for e in queries.values() if e.get("mode") == "rows_only"
        ),
        "queries": queries,
    }


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
    rc = sweep(
        os.path.join(REPO, "LOCAL_CORRECTNESS.json"),
        QUERIES,
        lambda name: check_key(spark, QUERIES[name], SF_DIR, oracle)[0],
        build,
        spark=spark,
        oracle=oracle,
    )
    oracle.close()
    if rc != 3:  # a dead JVM cannot be stopped
        spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
