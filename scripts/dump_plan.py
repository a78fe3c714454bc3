"""Dump .explain("formatted") for registry keys to plans/<tag>/<key>_<suffix>.txt.

Usage: python scripts/dump_plan.py <tag> <suffix> <key> [key ...]
e.g.   python scripts/dump_plan.py r14 before sim_ivf_probe_sweep
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_financial_reporting_spark.session import get_session  # noqa: E402
from bigdata_financial_reporting_spark.queries import QUERIES  # noqa: E402
from bigdata_financial_reporting_spark.operators.cache import (  # noqa: E402
    release_operator_caches,
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    tag, suffix, *names = sys.argv[1:]
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_session("dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name].fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")
        release_operator_caches()


if __name__ == "__main__":
    main()
