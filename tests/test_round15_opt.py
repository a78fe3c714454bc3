"""Round-15 optimization: plan-shape pins and counter fixes.

The second optimization round's invariants:

1. ``global_running_sum(with_totals=True)`` carries grand totals on
   every row, exact-equal to a separate aggregation pass — so
   agg_ks_twosample consumes the running-sum frame ONCE (before: the
   n1/n2 aggregation re-ran the whole range+window pipeline as a
   second consumer, 10 executed exchanges; now 6-7).
2. The global-order operators leave no persisted frame in their plans
   (round 15 persisted ``global_row_number``'s ranked output; the
   split-point buckets that replaced it need no persist to stay
   consistent, and agg_tdigest_quantiles counts its input instead of
   the ranked frame).
3. ``plans.inspect._executed_exchange_count`` deduplicates cached
   builds NESTED inside other cached builds' printed bodies, and
   normalizes trailing blank lines so identical builds printed at
   different tree positions compare equal (round-14 ADVICE).
4. Model-sized persisted frames are single-partition
   (stat_anova_two_way coalesce(1)) and AQE may re-partition cached
   plans (session config), so tiny cached frames are not read across
   a full shuffle-partition fan of near-empty tasks.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.operators.cache import (
    release_operator_caches,
)
from bigdata_financial_reporting_spark.operators.global_window import (
    global_lag,
    global_row_number,
    global_running_sum,
)
from bigdata_financial_reporting_spark.plans.inspect import (
    _executed_exchange_count,
    count_exchanges,
    physical_plan,
)
from bigdata_financial_reporting_spark.queries import QUERIES


def test_running_sum_with_totals_matches_separate_aggregation(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"),
        (F.col("id") % 7).cast("double").alias("a"),
        (F.col("id") % 3).alias("b"),
    )
    cells = df.groupBy("k").agg(
        F.sum("a").alias("a"), F.sum("b").alias("b")
    )
    runs = global_running_sum(cells, ["k"], ["a", "b"], with_totals=True)
    got = runs.select("tot_a", "tot_b").distinct().collect()
    want = cells.agg(F.sum("a"), F.sum("b")).collect()[0]
    assert len(got) == 1
    assert got[0]["tot_a"] == want[0]
    assert got[0]["tot_b"] == want[1]
    # and the last running value equals the grand total
    last = runs.orderBy(F.desc("k")).limit(1).collect()[0]
    assert last["run_a"] == want[0] and last["run_b"] == want[1]
    release_operator_caches()


def test_ks_twosample_single_running_sum_consumer(spark, sf_dir):
    """The ECDF normalization reads the grand totals off the rows —
    no second aggregation pass over the running-sum frame (which
    re-ran the range+window pipeline per action: 10 executed
    exchanges before, 6 after)."""
    df = QUERIES["agg_ks_twosample"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 7
    release_operator_caches()


def test_global_order_operators_leave_no_cached_relation(spark, sf_dir):
    """The global-order operators bucket rows on literal split points,
    so no persisted frame pins their result: neither an operator's own
    plan nor agg_tdigest_quantiles' (which counts its input instead of
    re-running the ranking) carries an InMemoryRelation."""
    release_operator_caches()
    spark.catalog.clearCache()
    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    for out in (
        global_lag(df, ["k", "v"], "v", num_partitions=3),
        global_row_number(df, ["k", "v"], num_partitions=3),
        global_running_sum(df, ["k", "v"], ["v"], num_partitions=3),
    ):
        assert "InMemoryRelation" not in physical_plan(out)
    df = QUERIES["agg_tdigest_quantiles"].fn(spark, sf_dir)
    assert "InMemoryRelation" not in physical_plan(df)
    assert count_exchanges(df) <= 7
    release_operator_caches()


def test_executed_exchange_count_nested_cached_build_deduped():
    """An inner cached build embedded in an outer cached build's
    printed body AND referenced live elsewhere executes once — the
    counter must charge it once (round-14 ADVICE: the flat version
    returned 3 where 2 exchanges execute)."""
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[sum(v#2)])
   :- InMemoryTableScan [k#1, v#2]
   :     +- InMemoryRelation [k#1, v#2], StorageLevel(disk, memory, 1 replicas)
   :              +- Exchange hashpartitioning(k#10, 32), ENSURE_REQUIREMENTS, [plan_id=20]
   :                 +- InMemoryTableScan [k#10]
   :                       +- InMemoryRelation [k#10], StorageLevel(disk, memory, 1 replicas)
   :                                +- Exchange hashpartitioning(j#5, 32), ENSURE_REQUIREMENTS, [plan_id=9]
   :                                   +- FileScan parquet [j#5]
   +- InMemoryTableScan [k#30]
         +- InMemoryRelation [k#30], StorageLevel(disk, memory, 1 replicas)
                  +- Exchange hashpartitioning(j#5, 32), ENSURE_REQUIREMENTS, [plan_id=9]
                     +- FileScan parquet [j#5]
"""
    assert _executed_exchange_count(plan) == 2


def test_executed_exchange_count_trailing_blank_lines_normalized():
    """The printer may leave trailing blank lines after a cached body
    depending on tree position — identical builds must still dedupe."""
    plan = """Project [a#1]
:- InMemoryTableScan [a#1]
:     +- InMemoryRelation [a#1], StorageLevel(disk, memory, 1 replicas)
:              +- Exchange hashpartitioning(a#2, 32), ENSURE_REQUIREMENTS, [plan_id=4]
:                 +- FileScan parquet [a#2]
+- InMemoryTableScan [a#9]
      +- InMemoryRelation [a#9], StorageLevel(disk, memory, 1 replicas)
               +- Exchange hashpartitioning(a#2, 32), ENSURE_REQUIREMENTS, [plan_id=4]
                  +- FileScan parquet [a#2]

"""
    assert _executed_exchange_count(plan) == 1


def test_anova_cells_cached_single_partition(spark, sf_dir):
    """The persisted ANOVA cell frame is ka*kb rows of constant state:
    the cached build must carry the Coalesce(1) so its three consumers
    read one task each."""
    df = QUERIES["stat_anova_two_way"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Coalesce 1" in plan or "Coalesce(1)" in plan.replace(
        "Coalesce 1", "Coalesce(1)"
    )
    release_operator_caches()


def test_connected_components_frees_superseded_checkpoints(spark):
    """Each CC round's checkpoint supersedes the previous round's:
    while the result is live only the edge persist and the FINAL
    labels may hold storage; release_operator_caches() frees both."""
    from bigdata_financial_reporting_spark.operators.components import (
        connected_components,
    )

    release_operator_caches()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)]
        + [(2 * i, 2 * i + 2) for i in range(10)],
        ["id_a", "id_b"],
    )
    out = connected_components(edges)
    assert out.count() == 40
    jsc = spark.sparkContext._jsc.sc()
    live = len(jsc.getRDDStorageInfo())
    assert live <= 2, f"superseded round checkpoints linger: {live} entries"
    release_operator_caches()
    assert len(jsc.getRDDStorageInfo()) == 0


def test_minhash_candidates_ride_one_exchange(spark, sf_dir):
    """The candidate dedup and the id_a re-check join share one
    hash(id_a) exchange (subset partitioning clusters the superset
    dedup key): 7 executed exchanges -> 6."""
    df = QUERIES["dedup_minhash_pairs"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 6
    release_operator_caches()
