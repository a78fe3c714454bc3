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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an operator-persisted frame for later release."""
    _TRACKED.append(df)
    return df


class _CheckpointHandle:
    """Release adapter for checkpointed frames: ``DataFrame.unpersist``
    is a CacheManager no-op for a (local)checkpoint — the materialized
    rows live as RDD blocks under a ``LogicalRDD``, so freeing them
    means unpersisting that internal RDD. Best-effort: a reliable
    checkpoint's files (and any already-released RDD) make this a
    harmless no-op."""

    def __init__(self, df: DataFrame) -> None:
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        try:
            self._df._jdf.queryExecution().analyzed().rdd().unpersist(
                blocking
            )
        except Exception:  # pragma: no cover - non-LogicalRDD plans
            pass


def track_checkpoint(df: DataFrame) -> DataFrame:
    """Register a checkpointed frame (``localCheckpoint``/``checkpoint``)
    so ``release_operator_caches()`` bounds its block lifetime like any
    persisted frame. After release the frame is UNUSABLE (the lineage
    was truncated — there is nothing to recompute from), so the
    release-only-after-consumers-materialized contract is load-bearing
    here, not just a recompute cost."""
    _TRACKED.append(_CheckpointHandle(df))  # type: ignore[arg-type]
    return df


def release_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Immediately free a checkpointed frame's blocks (for superseded
    per-iteration frames that are provably never read again)."""
    _CheckpointHandle(df).unpersist(blocking)


def release_operator_caches(blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were released.

    CONTRACT: call only after every consumer of the returned plans has
    materialized. Some tracked persists are CORRECTNESS barriers, not
    perf caches — e.g. global_lag/global_row_number's range path
    persists the bucketed frame so all downstream branches see ONE
    repartitionByRange boundary sampling; after release, a
    re-materialized plan re-runs the range exchange independently per
    branch and the __pid/__b assignments can diverge, silently
    corrupting positions. Releasing mid-lifetime is therefore not just
    a recompute cost (round-3 ADVICE)."""
    n = len(_TRACKED)
    while _TRACKED:
        _TRACKED.pop().unpersist(blocking)
    return n
