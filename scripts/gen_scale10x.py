"""Stage a 10x multi-file scale-up of sf0.1 (default: /tmp/sf1x).

Two things the sf* fixtures cannot show, because every fixture file is
a SINGLE parquet row-group (scans cannot split below one task):

1. restored scan parallelism — the staged tables are written as 32
   files, the layout any real deployment has;
2. data-dependent behavior at 10x rows with 10x duplicated content
   (every doc/vector replicated with offset keys — a near-dup-heavy
   stress for the dedup family).

This run is what exposed the round-2 broadcast OOM in the minhash
re-check (static planner under-estimated the array-payload aggregate
and broadcast it; fixed with merge hints + AQE runtime promotion).

Usage (idempotent; the session takes ``local[$SPARK_GRAFT_CPUS]``):
    python scripts/gen_scale10x.py             # stage /tmp/sf1x
    python scripts/gen_scale10x.py /some/dir   # explicit destination
Then ``python scripts/gen_scale_correctness.py [dir]`` checks every key
against its oracle at that scale.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bigdata_financial_reporting_spark.session import get_session  # noqa: E402

SRC = "/root/testdata/sf0.1"
OFFSET = 10_000_000_000
SCALED = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SMALL = ["region", "nation", "customer", "supplier", "part"]


def main() -> None:
    dst = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1x"
    spark = get_session(
        "scale10x-stage",
        extra_conf={
            "spark.sql.shuffle.partitions": "32",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)
    reps = spark.range(10).withColumnRenamed("id", "rep")
    t0 = time.time()
    for table, keys in SCALED.items():
        out = f"{dst}/{table}.parquet"
        if os.path.exists(out):
            continue
        df = spark.read.parquet(f"{SRC}/{table}.parquet").crossJoin(
            F.broadcast(reps)
        )
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("rep") * OFFSET)
        df.drop("rep").repartition(32).write.mode("overwrite").parquet(out)
    for t in SMALL:
        p = f"{dst}/{t}.parquet"
        if not os.path.exists(p):
            os.symlink(f"{SRC}/{t}.parquet", p)
    print(f"staged 10x tables at {dst} in {time.time() - t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
