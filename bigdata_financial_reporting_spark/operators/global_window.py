"""Scalable global-order window: lag over a TOTAL order without the
single-partition collapse.

The reference's ``Window.orderBy(date)`` with no partitionBy moves the
whole table onto ONE task (reference controller/script.py:39 — Spark
even logs a warning). That is the worst scaling decision in the
reference; this operator is the fix for workloads that genuinely need a
global order (single logical series, cross-series cumulative metrics):

1. Bucket every row into one of P disjoint, consecutive order-key
   intervals — a coarsening of the order, so rows sort by bucket first.
2. Per-bucket window work keyed on the bucket — ordinary parallel
   window evaluation behind one hash shuffle of the data.
3. The cross-bucket stitch (predecessors / offsets) needs one tiny
   per-bucket summary row — at most P rows, trivially broadcastable at
   any scale; the only unpartitioned window in the plan runs over them.

Result is IDENTICAL to the naive global window (same total order,
tie-broken by the caller's order columns).

Split points, not cached partitions: the bucket is a pure column
expression comparing the order key with at most P-1 LITERAL split
points (``_split_bucket``). One small eager job collects a bounded
random sample of the order key and the driver picks the split points
from it, so every re-plan of every branch — after a cache release, an
eviction or a lost executor — computes the same bucket for the same
row. The split points only balance the buckets: any values give the
same result, so the sample never needs to be reproducible and an
empty bucket (ties, more buckets than distinct keys) is harmless. P
follows the input: the estimated plan size in units of AQE's advisory
partition size, capped at ``spark.sql.shuffle.partitions``; inputs
under one advisory partition take one bucket and skip the sample.
Nothing here is cached, so no cache state can change a result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _split_bucket(
    df: DataFrame, order_cols: list[str], num_partitions: int | None
) -> Column:
    """The index of the order-key interval each row falls in, between
    at most ``num_partitions - 1`` split points sampled from ``df``."""
    spark = df.sparkSession
    if num_partitions is None:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        target = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        num_partitions = min(
            size // target + 1, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    sample = []
    if num_partitions > 1:
        sample = (
            df.select(*order_cols)
            .orderBy(F.rand(0))
            .limit(100 * num_partitions)
            .orderBy(*order_cols)
            .collect()
        )
    splits = [
        F.struct(
            *[F.lit(row[c]).cast(df.schema[c].dataType).alias(c) for c in order_cols]
        )
        for row in (
            sample[i * len(sample) // num_partitions]
            for i in range(1, num_partitions if sample else 0)
        )
    ]
    # The struct compares field by field, ascending with nulls first —
    # the window's own order — and is never null itself.
    key = F.struct(*order_cols)

    def search(lo: int, hi: int) -> Column:
        # number of splits <= key, given splits[:lo] <= key < splits[hi:]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key < splits[mid], search(lo, mid)).otherwise(
            search(mid + 1, hi)
        )

    return search(0, len(splits))


def global_lag(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "__lag",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = lag(value_col) over the global order
    defined by ``order_cols`` (must be a total order for deterministic
    results)."""
    parts = df.withColumn("__b", _split_bucket(df, order_cols, num_partitions))
    w = Window.partitionBy("__b").orderBy(*order_cols)
    within = parts.select(
        "*",
        F.lag(value_col).over(w).alias(out_col),
        F.row_number().over(w).alias("__rn"),
    )
    # The last row of the nearest NON-EMPTY earlier bucket is a bucket's
    # predecessor: lag over the per-bucket table, which holds only the
    # buckets that have rows. max_by over the order-key struct picks
    # each bucket's last row in one aggregation.
    lasts = parts.groupBy("__b").agg(
        F.max_by(F.col(value_col), F.struct(*order_cols)).alias("__last")
    )
    prev = lasts.select(
        "__b", F.lag("__last").over(Window.orderBy("__b")).alias("__pred")
    )
    return (
        within.join(F.broadcast(prev), "__b")
        .withColumn(
            out_col,
            F.when(F.col("__rn") == 1, F.col("__pred")).otherwise(F.col(out_col)),
        )
        .drop("__b", "__rn", "__pred")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "pos",
    num_partitions: int | None = None,
    bucket_col: Column | None = None,
) -> DataFrame:
    """``row_number()`` over the global order defined by ``order_cols``
    (must be a total order), without the single-partition collapse:
    rank within buckets in parallel, then add per-bucket offsets. The
    offset table is one row per bucket — the only unpartitioned window
    in the plan runs over those rows, never over the data.

    The bucket is ``bucket_col`` when given — it must be a COARSENING
    of the order (rows sort by bucket first), e.g. a fixed-width prefix
    of the first order column (hash keys qualify; arbitrary keys
    usually don't), which needs no sample — and the split-point bucket
    otherwise. The count branch is a map-side-combined aggregation
    over the un-windowed input."""
    if bucket_col is None:
        bucket_col = _split_bucket(df, order_cols, num_partitions)
    parts = df.withColumn("__b", bucket_col)
    within = parts.withColumn(
        "__rn", F.row_number().over(Window.partitionBy("__b").orderBy(*order_cols))
    )
    counts = parts.groupBy("__b").agg(F.count(F.lit(1)).alias("__cnt"))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__b", F.coalesce(F.sum("__cnt").over(wo), F.lit(0)).alias("__off")
    )
    return (
        within.join(F.broadcast(offsets), "__b")
        .withColumn(out_col, (F.col("__rn") + F.col("__off")).cast("long"))
        .drop("__b", "__rn", "__off")
    )


def global_pct_change(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Daily-%-return shape over a global order, scalably:
    ``(v / global_lag(v) - 1) * 100``. NULL for the first row and for
    zero predecessors (ANSI off), matching the reference semantics."""
    lagged = global_lag(df, order_cols, value_col, "__prev", num_partitions)
    return lagged.withColumn(
        out_col, (F.col(value_col) / F.col("__prev") - 1) * 100
    ).drop("__prev")


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    num_partitions: int | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """Running sums of ``value_cols`` over the TOTAL order defined by
    ``order_cols`` (must be a total order), without the
    single-partition collapse: local running sums per bucket, then add
    per-bucket prefix offsets — the offset table is one row per
    bucket, so the only unpartitioned window runs over at most P rows,
    never the data. Output columns are ``run_<value_col>``; with
    ``with_totals=True`` every row additionally carries
    ``tot_<value_col>`` = the GRAND total of that column, computed as
    one extra unbounded-frame sum over the same per-bucket totals in
    the SAME tiny offsets window — so callers needing both the running
    values and the totals (ECDF normalization, say) consume ONE frame
    instead of aggregating the output a second time, which re-ran the
    whole window pipeline per extra consumer. The grand totals are
    exact-equal to a separate aggregation for the integer / decimal /
    integer-valued-double columns callers feed (float association
    never changes a sum of exactly representable integers)."""
    parts = df.withColumn("__b", _split_bucket(df, order_cols, num_partitions))
    w_in = (
        Window.partitionBy("__b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.select(
        "*", *[F.sum(v).over(w_in).alias(f"__local_{v}") for v in value_cols]
    )
    totals = parts.groupBy("__b").agg(
        *[F.sum(v).alias(f"__tot_{v}") for v in value_cols]
    )
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        "__b",
        *[
            F.coalesce(F.sum(f"__tot_{v}").over(wo), F.lit(0)).alias(
                f"__off_{v}"
            )
            for v in value_cols
        ],
        *[
            F.sum(f"__tot_{v}").over(wall).alias(f"tot_{v}")
            for v in (value_cols if with_totals else [])
        ],
    )
    out = local.join(F.broadcast(offsets), "__b")
    for v in value_cols:
        out = out.withColumn(
            f"run_{v}", F.col(f"__local_{v}") + F.col(f"__off_{v}")
        ).drop(f"__local_{v}", f"__off_{v}")
    return out.drop("__b")
