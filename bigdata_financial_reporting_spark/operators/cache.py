"""Lifetime management for operator-internal persisted frames and for
per-call scratch state.

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
``oracle_compare.check_key`` after each key.

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

The same release point owns a query's scratch state on local disk,
because a returned frame is lazy and still reads its files after the
query function returns, so the function cannot clean up itself:

- every per-call scratch dir comes from ``scratch_dir`` (roundtrip
  sinks, manifest tables, stream staging, streaming checkpoints, the
  CDC work dir) and is removed at release; an ``atexit`` hook removes
  any dir still recorded when the process exits, without a Spark call;
- each finished ``run_available_now`` drain leaves a temp view over
  its memory sink; the view is dropped at release (a frame already
  returned keeps its plan and still collects its rows).

Excluded: ``oracle_compare.tune_duck``'s DuckDB spill dir lives as long
as its connection, not until the next release. DuckDB 1.0.0 fails a
spilling query with ``IO Error: Cannot open file
".../duckdb_temp_storage-0.tmp"`` once that dir is removed, and the
connection outlives every per-key release of a sweep.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from types import SimpleNamespace

from pyspark.sql import DataFrame

#: Tracked frames, released through ``unpersist(blocking)``: persisted
#: DataFrames themselves, and a handle per checkpointed frame.
_TRACKED: list = []

#: Scratch dirs from ``scratch_dir``, removed at release.
_DIRS: list[str] = []

#: ``(session, name)`` of each drain's memory-sink temp view, dropped
#: at release.
_VIEWS: list = []


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


def scratch_dir(prefix: str, dir: str | None = None) -> str:
    """A new empty dir ``<dir>/<prefix>XXXXXXXX`` (``dir`` defaults to
    ``tempfile.gettempdir()``), removed with everything in it at the
    next ``release_operator_caches()`` or at process exit."""
    d = tempfile.mkdtemp(prefix=prefix, dir=dir)
    _DIRS.append(d)
    return d


def track_view(spark, name: str) -> None:
    """Register a session temp view to drop at the next release."""
    _VIEWS.append((spark, name))


def _remove_dirs() -> None:
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)


atexit.register(_remove_dirs)


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
    a checkpointed frame has materialized. The same holds for a frame
    that reads a ``scratch_dir``: its files are removed here too.

    Also drops every tracked drain view; the count covers frames
    only."""
    n = len(_TRACKED)
    while _TRACKED:
        _TRACKED.pop().unpersist(blocking)
    while _VIEWS:
        spark, name = _VIEWS.pop()
        spark.catalog.dropTempView(name)
    _remove_dirs()
    return n
