"""Lifetime management for operator-internal persisted frames.

Several operators persist intermediate frames that feed multiple
consumers inside one returned plan (minhash signatures, LSH band
buckets — Catalyst does not reuse a subtree across branches with
different downstream partitioning). The persist must outlive the
returned plan's materialization, so the operator cannot unpersist
before returning; Spark DOES key cached data by canonicalized plan, so
re-running the same query reuses one entry — but distinct inputs or
parameters accumulate entries across a long session (round-2 ADVICE).

Contract: operators register such frames here via ``track``; callers
that run many different queries in one session call
``release_operator_caches()`` at safe points (after an action has
materialized the plans they care about).
``perfbench/workloads.registry_op`` does this after each operation, and
``scripts/check_keys.py`` between keys.

Keep rule: a persist stays only where it measurably pays. Time the key
with and without it in back-to-back pairs in one process, on the
``noop`` sink, releasing these caches and calling
``spark.catalog.clearCache()`` after every run so each run pays its own
cache build. Keep the persist when the median paired difference
(without minus with) is above zero at sf0.01 or at the 10x corpus;
delete it otherwise. A count of scan nodes in a plan that has not run
is no evidence: AQE reuses an identical exchange within one action,
and the cache build is an extra job that writes every block. ROADMAP
Open item 3 holds the per-site numbers.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame

#: Tracked frames, released through ``unpersist(blocking)``: persisted
#: DataFrames themselves, and a handle per checkpointed frame.
_TRACKED: list = []


def track(df: DataFrame) -> DataFrame:
    """Register an operator-persisted frame for later release."""
    _TRACKED.append(df)
    return df


def track_checkpoint(df: DataFrame) -> DataFrame:
    """Register a checkpointed frame (``localCheckpoint``/``checkpoint``)
    so ``release_operator_caches()`` frees it like a persisted frame —
    see that function for what release means here."""
    _TRACKED.append(
        SimpleNamespace(unpersist=lambda blocking: release_checkpoint(df, blocking))
    )
    return df


def release_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Free a checkpointed frame now: its blocks and, for a reliable
    ``checkpoint()``, its files. ``DataFrame.unpersist`` is a
    CacheManager no-op here — the rows live under the ``LogicalRDD``
    the checkpoint left as the frame's plan, so that RDD is released.
    Only for frames that are provably never read again."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    rdd.unpersist(blocking)
    files = rdd.getCheckpointFile()
    if files.isDefined():
        path = df.sparkSession._jvm.org.apache.hadoop.fs.Path(files.get())
        conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
        path.getFileSystem(conf).delete(path, True)


def release_operator_caches(blocking: bool = False) -> int:
    """Release every tracked frame; returns how many were released.

    No tracked persist is a correctness barrier: a persisted frame is
    a pure performance choice, and a plan re-run after its release
    recomputes the same rows (the global-order operators bucket on
    literal split points, not on cached partitions). Releasing early
    costs recompute time only — with ONE exception: a
    ``track_checkpoint`` frame has no lineage left to recompute from,
    so once released it is unusable and an action on it fails (its
    blocks and files are gone). Call this only after every consumer of
    a checkpointed frame has materialized."""
    n = len(_TRACKED)
    while _TRACKED:
        _TRACKED.pop().unpersist(blocking)
    return n
