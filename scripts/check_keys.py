"""Single-key oracle check: run one or more registry keys Spark-vs-DuckDB
at ``$SPARK_GRAFT_SF_DIR`` (default sf0.01) and print each verdict.

The per-key check is the one scripts/gen_local_correctness.py commits
(``oracle_compare.check_key``), so a key GREEN here is green in the
full sweep. Does NOT touch LOCAL_CORRECTNESS.json.

Usage:  python scripts/check_keys.py sim_quantize_int8 sim_centroid_per_label
        python scripts/check_keys.py --category similarity

Exit code: 2 on an unknown or missing key, 1 if any key is red, else 0.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.oracle_compare import (  # noqa: E402
    Oracle,
    canon_rows,
    check_key,
    col_kinds,
    entry_green,
)
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402
from bigdata_financial_reporting_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    args = sys.argv[1:]
    if args[:1] == ["--category"] and len(args) == 2:
        names = [n for n, s in QUERIES.items() if s.category == args[1]]
    else:
        names = args
    unknown = [n for n in names if n not in QUERIES]
    if unknown or not names:
        print(f"unknown or missing keys: {unknown}")
        return 2

    spark = get_session(
        "check-keys",
        extra_conf={
            "spark.sql.shuffle.partitions": "16",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    oracle = Oracle(SF_DIR)

    failures = 0
    for name in names:
        t0 = time.time()
        try:
            entry, (s_cols, s_rows), duck = check_key(
                spark, QUERIES[name], SF_DIR, oracle
            )
            if duck is None:
                print(f"{name}: rows_only rows={len(s_rows)} ({time.time()-t0:.1f}s)")
                continue
            d_cols, d_rows = duck
            ok = entry_green(entry)
            failures += 0 if ok else 1
            flags = " ".join(
                f"{k}={entry[k]}"
                for k in ("rows_match", "schema_match", "values_match", "kind_match")
            )
            print(
                f"{name}: {'GREEN' if ok else 'FAIL'} "
                f"rows={len(s_rows)}/{len(d_rows)} {flags} ({time.time()-t0:.1f}s)"
            )
            if not entry["schema_match"]:
                print(f"  spark cols: {sorted(s_cols)}")
                print(f"  duck  cols: {sorted(d_cols)}")
            elif not entry["values_match"]:
                sc, dc = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
                s_set, d_set = set(sc), set(dc)
                print(f"  spark-only rows (≤3): {[r for r in sc if r not in d_set][:3]}")
                print(f"  duck-only  rows (≤3): {[r for r in dc if r not in s_set][:3]}")
            elif not ok:
                print(f"  spark kinds: {col_kinds(s_cols, s_rows)}")
                print(f"  duck  kinds: {col_kinds(d_cols, d_rows)}")
        except Exception as exc:
            failures += 1
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
    oracle.close()
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
