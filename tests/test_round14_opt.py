"""Round-14 optimization: plan-shape pins for the scan-dedup work.

The optimization round's invariants, asserted plan-side so a regression
is mechanical to catch:

1. connected_components cuts lineage per round (localCheckpoint) — the
   returned plan is flat: no nested per-round subtrees, no exchanges.
   (Before: the plan doubled per round — 642 nested scans after ~9
   rounds, driver plan-OOM at real diameters.)
2. Multi-consumer operators persist their shared frames — the worst
   round-13 offenders now execute a bounded number of parquet scans per
   action instead of once per consumer.
3. plans.inspect counts exchanges that EXECUTE: a cached build's
   exchanges are charged once, not once per InMemoryTableScan reference.
"""
from __future__ import annotations

import re

import pytest

from bigdata_financial_reporting_spark.plans.inspect import (
    _executed_exchange_count,
    _node_depth,
    physical_plan,
    plan_report,
)
from bigdata_financial_reporting_spark.queries import QUERIES

SCAN_RE = re.compile(r"FileScan parquet \[[^\]]*\][^\n]*?(\w+)\.parquet")


def _live_scan_count(plan: str) -> int:
    """FileScan nodes outside InMemoryRelation subtrees: the scans a
    plan runs beyond its cached builds."""
    n = 0
    cached_depth = None
    for line in plan.splitlines():
        d = _node_depth(line)
        if cached_depth is not None and d <= cached_depth and line.strip():
            cached_depth = None
        if "InMemoryRelation" in line and cached_depth is None:
            cached_depth = d
            continue
        if cached_depth is not None:
            continue
        if SCAN_RE.search(line):
            n += 1
    return n


def test_connected_components_plan_is_flat(spark, sf_dir):
    """The label-propagation loop must not accrete lineage: the final
    dedup_clusters plan reads the checkpointed labels (one flat scan of
    an existing RDD), never a nested per-round recompute tree."""
    df = QUERIES["dedup_clusters"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan ExistingRDD" in plan, "labels must come from a checkpoint"
    assert _executed_exchange_count(plan) == 0, plan
    # no round's recompute subtree may survive into the final plan
    assert "InMemoryRelation" not in plan


def test_probe_sweep_scans_corpus_once(spark, sf_dir):
    """sim_ivf_probe_sweep's 12-consumer fan-out must read the cached
    corpus/query projections — zero live parquet scans outside the two
    cached builds (round-14: was 12 corpus scans per action)."""
    df = QUERIES["sim_ivf_probe_sweep"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert _live_scan_count(plan) == 0, plan
    assert "InMemoryTableScan" in plan


@pytest.mark.parametrize(
    "key,max_live",
    [
        ("sim_ivfpq_residual_encode", 0),
        ("dedup_embedding_cosine", 0),
        ("dedup_semantic_semdedup", 0),
        ("sim_ivfpq_topk", 2),
        ("stat_anova_two_way", 0),
        ("rollup_timeseries", 0),
        ("stat_kruskal_wallis", 0),
        ("agg_theta_sketch_intersection", 0),
        ("emb_pca_power_iteration", 0),
        ("ts_funnel", 1),
    ],
)
def test_multi_consumer_frames_are_shared(spark, sf_dir, key, max_live):
    """Former duplicate-scan offenders: every consumer beyond the
    cached builds reads the persisted frame."""
    df = QUERIES[key].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert _live_scan_count(plan) <= max_live, plan


def test_executed_exchange_count_dedupes_cached_builds():
    """A cached build's subtree printed under two InMemoryTableScans is
    one executed build: its exchange counts once. Expression ids and
    tree-art indentation differ per reference and must canonicalize."""
    plan = """AdaptiveSparkPlan
+- SortMergeJoin
   :- Sort [id#1L]
   :  +- Exchange hashpartitioning(id#1L, 32)
   :     +- InMemoryTableScan [id#1L]
   :           +- InMemoryRelation [id#1L], StorageLevel(disk, memory)
   :                 +- Exchange hashpartitioning(k#2L, 32)
   :                    +- FileScan parquet [k#2L]
   +- Sort [id#9L]
      +- Exchange hashpartitioning(id#9L, 32)
         +- InMemoryTableScan [id#9L]
               +- InMemoryRelation [id#9L], StorageLevel(disk, memory)
                     +- Exchange hashpartitioning(k#7L, 32)
                        +- FileScan parquet [k#7L]
"""
    # 2 live exchanges + the ONE cached build's exchange = 3 (not 4)
    assert _executed_exchange_count(plan) == 3


def test_executed_exchange_count_distinct_builds_both_counted():
    """Two genuinely different cached relations each charge their own
    build exchanges."""
    plan = """Union
:- InMemoryTableScan [a#1L]
:     +- InMemoryRelation [a#1L], StorageLevel(disk, memory)
:           +- Exchange hashpartitioning(a#1L, 32)
:              +- FileScan parquet [a#1L]
+- InMemoryTableScan [b#2L]
      +- InMemoryRelation [b#2L], StorageLevel(disk, memory)
            +- Exchange hashpartitioning(b#2L, 32)
               +- FileScan parquet [b#2L]
"""
    assert _executed_exchange_count(plan) == 2


def test_momentum_rank_reuses_day_partitioning(spark, sf_dir):
    """fin_momentum_rank groups by the RAW day after the day-window so
    the final aggregation reuses hashpartitioning(day): 3 exchanges
    (daily agg, user window, day window), not 4."""
    df = QUERIES["fin_momentum_rank"].fn(spark, sf_dir)
    assert plan_report(df)["exchanges"] <= 3


def test_opq_rotation_runs_once(spark, sf_dir):
    """The Hadamard rotation (Arrow matmul) must execute once: the
    rotated frame is persisted, so exactly one live mapInPandas/scan
    lineage remains for the raw-encode comparison side."""
    df = QUERIES["sim_opq_rotation_encode"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # one live scan (the raw pq_encode side); the rotation lineage is
    # inside the cached build
    assert _live_scan_count(plan) <= 1, plan
