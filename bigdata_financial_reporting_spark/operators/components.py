"""Connected components over an edge list — dedup clustering.

Near-dup detection emits PAIRS (see operators/dedup.py); production
dedup needs CLUSTERS: the transitive closure groups every variant of a
document together so one survivor per cluster can be kept. This is
connected components on the similarity graph.

Algorithm: iterative minimum-label propagation (a relational HashMin /
"large-star" style loop). Initialization already performs the first
propagation round (every node takes min(self, neighbors) in one
aggregation — no join needed while labels are the identity); each
further round, every node adopts the smallest label among itself and
its neighbors. Rounds needed ≈ graph diameter (dedup-similarity graphs
are collections of small dense clusters — diameter is tiny, a handful
of rounds). Each round is ONE join + ONE aggregation — ordinary
shuffles, no driver-side graph state.

Convergence: labels are monotonically non-increasing, so the label SUM
(exact, decimal(38,0) — immune to long overflow at billions of nodes)
is strictly decreasing until fixpoint; the per-round driver action is
a 1-row aggregate instead of a join-and-count over the label frames.

Deterministic: the final label of a component is its minimum node id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bigdata_financial_reporting_spark.operators.cache import (
    release_checkpoint,
    track,
    track_checkpoint,
)


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    Uses a RELIABLE ``checkpoint()`` (HDFS/object-store files, eager)
    when the session has a checkpoint directory configured
    (``SparkContext.setCheckpointDir`` — the production posture: an
    executor loss mid-iteration recovers from the checkpoint files),
    and ``localCheckpoint()`` otherwise (executor memory+disk blocks —
    fine for local mode and tests, but NOT executor-loss tolerant: the
    lineage is gone, so a lost executor fails the job; see SCALING.md).
    No persist precedes the reliable checkpoint: the eager checkpoint
    evaluates the round once either way (a per-row counter reads the
    same count with and without one), and a persist only adds a job.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """``(id, component)`` for every node appearing in ``edges``;
    ``component`` = the smallest node id reachable from ``id``."""
    # undirected: symmetrize once; self-loops keep isolated correctness
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = fwd.unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    track(sym)

    def label_sum(frame):
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    # Round 1 fused into initialization: while labels are the identity,
    # min-over-neighbors needs no join — one aggregation over the edges.
    #
    # Lineage discipline (optimization round 14, hardened round 15):
    # each round references the previous label frame TWICE (union
    # branch + neighbor join), so a persist alone leaves the logical
    # plan doubling per round — 2^rounds plan nodes (the round-14 audit
    # counted 642 nested scans in the final plan after ~9 rounds), with
    # Catalyst re-optimizing the exponentially growing tree per
    # iteration and a driver OOM on the plan at real diameters.
    # ``_cut_lineage`` materializes the round's labels (same executor
    # memory+disk storage the persist used) AND truncates the lineage,
    # so every round's plan is flat and constant-size. Values are
    # unchanged: the checkpoint stores the exact rows the persist
    # stored. Each round's checkpoint supersedes the previous round's:
    # the old blocks are freed EXPLICITLY once the new round has
    # materialized (round-14 ADVICE — before, one label-frame copy per
    # round lingered until GC), and the final frame is registered with
    # the cache-release contract so callers bound its lifetime too.
    labels = _cut_lineage(
        sym.select(F.col("u").alias("id"), F.least("u", "v").alias("component"))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
    prev_sum = label_sum(labels)

    for _ in range(max_iterations):
        # each node's candidate label: min over its own and neighbors'
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .select(F.col("u").alias("id"), "component")
        )
        new_labels = _cut_lineage(
            labels.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # new_labels is materialized (checkpoints are eager): the
        # previous round's blocks and checkpoint files can never be
        # read again — free them now instead of leaving one label-table
        # copy per round behind.
        release_checkpoint(labels)
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    return track_checkpoint(labels)


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
) -> DataFrame:
    """Cluster near-dup pairs and pick survivors.

    Returns ``(id, component, is_survivor)`` for EVERY id in
    ``all_ids`` — docs in no pair form their own singleton cluster.
    Survivor = smallest id per cluster (deterministic).
    """
    comp = connected_components(pairs)
    ids = all_ids.select(F.col(id_col).alias("id"))
    full = ids.join(comp, "id", "left").withColumn(
        "component", F.coalesce("component", F.col("id"))
    )
    return full.withColumn(
        "is_survivor", (F.col("id") == F.col("component")).cast("boolean")
    )
