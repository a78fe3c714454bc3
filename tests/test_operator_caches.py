"""Operator-cache lifetime (round-2 ADVICE): persisted signature frames
register with operators.cache and are released by
release_operator_caches(); threshold-derived LSH banding keeps the
fixture-scale exactness while tightening at production thresholds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_financial_reporting_spark.operators.cache import (
    _TRACKED,
    release_operator_caches,
)
from bigdata_financial_reporting_spark.operators.dedup import minhash_lsh_pairs
from bigdata_financial_reporting_spark.operators.similarity import (
    lsh_blocked_pairs,
    pairwise_above_threshold,
    planes_for_threshold,
)
from bigdata_financial_reporting_spark.plans.inspect import physical_plan
from bigdata_financial_reporting_spark.queries import QUERIES
from bigdata_financial_reporting_spark.sources.catalog import load_table


def test_minhash_registers_and_releases_persisted_frames(spark, sf_dir):
    release_operator_caches()  # clean slate
    d = load_table(spark, sf_dir, "documents")
    df = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.35)
    assert len(_TRACKED) >= 2  # shingle rows + signature frame
    tracked = list(_TRACKED)
    df.count()  # materialize while cached
    assert all(t.storageLevel.useMemory or t.storageLevel.useDisk for t in tracked)
    released = release_operator_caches()
    assert released == len(tracked)
    assert not _TRACKED
    assert all(
        not (t.storageLevel.useMemory or t.storageLevel.useDisk) for t in tracked
    )
    # released plans still recompute correctly
    assert df.count() > 0
    release_operator_caches()


def test_lsh_blocked_registers_and_survives_release(spark, sf_dir):
    release_operator_caches()
    e = load_table(spark, sf_dir, "embeddings")
    df = lsh_blocked_pairs(e, "vec_id", "embedding", 0.35)
    assert len(_TRACKED) >= 1
    n1 = df.count()
    release_operator_caches()
    assert df.count() == n1


@pytest.mark.parametrize("key", ["stat_friedman", "sim_ivf_topk"])
def test_keys_without_paying_persists_build_no_cache(spark, sf_dir, key):
    """Keys whose every persist measured slower than recomputing (the
    keep rule in operators.cache): building the plan registers no
    operator cache and the plan reads no cached relation."""
    release_operator_caches()
    df = QUERIES[key].fn(spark, sf_dir)
    assert not _TRACKED
    assert "InMemoryRelation" not in physical_plan(df)


def test_planes_for_threshold_monotone_and_calibrated():
    # monotone non-decreasing in threshold; known anchors
    prev = 0
    for t in [0.0, 0.2, 0.35, 0.5, 0.7, 0.9, 0.95, 0.99]:
        r = planes_for_threshold(t)
        assert r >= prev
        prev = r
    assert planes_for_threshold(0.35) == 2  # round-2 default preserved
    assert planes_for_threshold(0.9) >= 6  # production thresholds tighten


def test_derived_banding_never_invents_and_keeps_high_recall(spark, sf_dir):
    """Away from the registry threshold (where strict fixture equality
    is asserted in test_llm_ops), derived banding must still (a) never
    invent a pair — the exact-cosine re-check guarantees precision 1.0
    — and (b) keep recall high. Pairs sitting exactly at the threshold
    can be unlucky against the FIXED deterministic hyperplanes (the
    expectation math assumes random planes), so recall is a floor here,
    not equality — precisely the round-2 ADVICE caveat."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    banded = {
        (r.id_a, r.id_b): r.cosine
        for r in lsh_blocked_pairs(e, "vec_id", "embedding", 0.30).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in pairwise_above_threshold(e, "vec_id", "embedding", 0.30).collect()
    }
    assert exact, "vacuous: no pairs at threshold 0.30 in the first 300 vectors"
    assert set(banded) <= set(exact)  # precision 1.0 by construction
    for k in banded:
        assert banded[k] == exact[k]  # scores are exact, not approximate
    recall = len(banded) / len(exact)
    assert recall >= 0.95, f"recall {recall} below floor; missed {set(exact)-set(banded)}"
    release_operator_caches()


def test_reliable_checkpoint_components_keep_only_final_files(spark, tmp_path):
    """With a checkpoint dir set, connected components checkpoints each
    round reliably: the labels equal the localCheckpoint path's, only
    the final round's checkpoint files are left behind, and release
    deletes those too — after which the frame is unusable, the one
    data-losing case of release_operator_caches()."""
    from bigdata_financial_reporting_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)]
        + [(2 * i, 2 * i + 2) for i in range(10)],
        ["id_a", "id_b"],
    )
    release_operator_caches()
    want = sorted(map(tuple, connected_components(edges).collect()))
    release_operator_caches()
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path))
    try:
        out = connected_components(edges)
        assert sorted(map(tuple, out.collect())) == want
        assert len([p for p in tmp_path.rglob("rdd-*") if p.is_dir()]) == 1
        release_operator_caches()
        assert not list(tmp_path.rglob("rdd-*"))
        with pytest.raises(Exception):
            out.collect()
    finally:
        # the checkpoint dir is context-wide: unset it for later tests
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
