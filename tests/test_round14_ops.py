"""Round-14 regression tests — the four round-13 ADVICE findings:

- hadamard_rotate's overflow guard must catch the Long.MIN_VALUE
  saturation case (Spark's double->long cast saturates at -2^63 and
  np.abs(-2^63) wraps back to -2^63, so an abs-based peak missed the
  one element guaranteed to overflow);
- ephemeral checkpoint dirs (RAM-backed /dev/shm) must be removed
  once a drain completes, not leak across bench/gate runs;
- the CDC staging rewrite must fail loudly (naming the version) when
  a change-log version is empty, instead of an opaque
  FileNotFoundError from os.listdir;
- the n_keep=1 IVF cell-assignment aggregation must group by the key
  column ONLY: grouping on the float vector/norm payload pushed them
  through NormalizeFloatingNumbers (-0.0 -> 0.0) and split duplicate
  keys into one row per distinct payload where the window form emits
  one row per key.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import Row


def _shm_ckpts() -> set[str]:
    base = "/dev/shm"
    if not os.path.isdir(base):
        return set()
    return {n for n in os.listdir(base) if n.startswith("bdfr_ckpt_")}


def test_hadamard_rotate_guard_catches_long_min_saturation(spark):
    """Round-13 advice: |x| ~ 1e19 scaled by 1e6 exceeds int64, and
    Spark's ANSI-off double->long cast SATURATES at Long.MIN_VALUE
    (-2^63) for the negative case. np.abs(-2^63) wraps back to -2^63,
    so the old abs-based peak computed 'peak' from every element
    EXCEPT the saturated one — the silent-wrap case the guard exists
    to prevent. The min/max Python-int bound must raise."""
    from bigdata_financial_reporting_spark.operators.similarity import (
        hadamard_rotate,
    )

    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[-1.0e19] + [0.0] * 63)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="overflow"):
        hadamard_rotate(df, "vec_id", "embedding", dim=64).collect()


def test_ephemeral_checkpoints_cleaned_after_drain(spark, tmp_path):
    """run_available_now must remove its checkpoint dir once the
    memory-sink result is materialized — repeated drains must not
    leak tmpfs. The dir is recorded with the scratch owner
    (operators/cache.py) as the error-path backstop, and the release
    forgets it."""
    from bigdata_financial_reporting_spark.operators import cache
    from bigdata_financial_reporting_spark.streaming import runner

    cache.release_operator_caches()
    before = _shm_ckpts()

    src = str(tmp_path / "src")
    spark.range(5).write.mode("overwrite").parquet(src)
    s = spark.readStream.schema("id long").parquet(src)
    out = runner.run_available_now(
        s.groupBy().count(), output_mode="complete"
    )
    assert out.collect()[0][0] == 5
    assert _shm_ckpts() == before
    [ckpt] = cache._DIRS
    assert os.path.basename(ckpt).startswith("bdfr_ckpt_")
    assert not os.path.exists(ckpt)
    cache.release_operator_caches()
    assert not cache._DIRS


def test_cdc_staging_rejects_empty_version(spark, sf_dir, monkeypatch):
    """An empty change-log version writes no __v=<v> partition dir;
    the staging loop must name the offending version, not surface a
    bare FileNotFoundError."""
    from bigdata_financial_reporting_spark.queries import ops_tools
    from bigdata_financial_reporting_spark.queries.registry import QUERIES

    real = ops_tools.cdc_change_log

    def hollow(spark_, sf_dir_):
        versions = real(spark_, sf_dir_)
        # empty out version 2 (filter nothing survives) — schema kept
        return [
            (v, df.filter("1 = 0") if v == 2 else df)
            for v, df in versions
        ]

    monkeypatch.setattr(ops_tools, "cdc_change_log", hollow)
    with pytest.raises(ValueError, match="version 2"):
        QUERIES["stream_cdc_upsert_sink"].fn(spark, sf_dir).collect()


def test_nearest_cells_one_row_per_duplicate_key(spark):
    """n_keep=1 assignment: duplicate-key rows collapse to ONE row
    per key (the window form's semantics), and the carried vector
    payload keeps its original bytes — including -0.0, which a
    float grouping key would normalize to +0.0."""
    from bigdata_financial_reporting_spark.operators.similarity import (
        _nearest_cells,
    )

    rows = spark.createDataFrame(
        [
            Row(id=1, vec=[1.0, 0.0], nrm=1.0),
            Row(id=1, vec=[1.0, 0.0], nrm=1.0),  # duplicate key+payload
            Row(id=2, vec=[-0.0, 1.0], nrm=1.0),
        ],
        "id long, vec array<double>, nrm double",
    )
    cents = spark.createDataFrame(
        [
            Row(cent_id=0, __cent=[1.0, 0.0], __centn=1.0),
            Row(cent_id=1, __cent=[0.0, 1.0], __centn=1.0),
        ],
        "cent_id int, __cent array<double>, __centn double",
    )
    got = {
        r["id"]: r
        for r in _nearest_cells(rows, "id", "vec", "nrm", cents, 1).collect()
    }
    assert len(got) == 2  # one row per KEY, not per distinct payload
    assert got[1]["cell"] == 0
    assert got[2]["cell"] == 1
    # -0.0 payload survives bit-exactly (not a grouping key any more)
    assert math.copysign(1.0, got[2]["vec"][0]) == -1.0


# ---- sim_hnsw_greedy_descent (round-14 growth key) ----------------


def _descent(spark, sf_dir, **kw):
    from bigdata_financial_reporting_spark.operators.similarity import (
        hnsw_greedy_descent,
    )
    from bigdata_financial_reporting_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import functions as F

    args = dict(min_layer=4, max_layer=6, k=3, steps=3)
    args.update(kw)
    return hnsw_greedy_descent(
        e, e.filter(F.col("vec_id") < 50), "vec_id", "embedding", **args
    )


def test_descent_monotone_across_layers(spark, sf_dir):
    """Descending a layer can only keep or improve the query cosine
    (the walk carries its node down and moves only on strict
    improvement), so per query: cos(layer 4) >= cos(layer 5) >=
    cos(layer 6)."""
    rows = _descent(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["layer"]] = r["cosine"]
    assert by_q and all(len(v) == 3 for v in by_q.values())
    for q, v in by_q.items():
        assert v[4] >= v[5] >= v[6], (q, v)


def test_descent_nodes_are_layer_members(spark, sf_dir):
    """Every reported node must belong to its layer (h % 2^l == 0,
    nq > 0) — the nested skip-list membership invariant."""
    from pyspark.sql import functions as F
    from bigdata_financial_reporting_spark.sources.catalog import load_table

    members = {
        (r["l"], r["vec_id"])
        for r in load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.pmod(
                F.pmod(F.col("vec_id"), F.lit(1000000007))
                * F.lit(2654435761),
                F.lit(4294967296),
            ).alias("h"),
        )
        .crossJoin(spark.range(4, 7).select(F.col("id").alias("l")))
        .filter(F.col("h") % F.pow(F.lit(2), F.col("l")).cast("long") == 0)
        .collect()
    }
    for r in _descent(spark, sf_dir).collect():
        assert (r["layer"], r["node_id"]) in members, r


def test_descent_beats_entry_and_is_bounded_by_bruteforce(spark, sf_dir):
    """The final (layer-4) node is at least as good as the entry
    point and no better than the true within-layer-4 optimum."""
    import numpy as np
    from bigdata_financial_reporting_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").collect()
    qv = {
        r["vec_id"]: np.round(np.asarray(r["embedding"]) * 1e6)
        for r in e
    }
    h = {
        i: ((i % 1000000007) * 2654435761) % 4294967296 for i in qv
    }
    l4 = [i for i in qv if h[i] % 16 == 0 and (qv[i] ** 2).sum() > 0]
    entry = min(i for i in l4 if h[i] % 64 == 0)

    def cos(a, b):
        return float(
            (qv[a] @ qv[b])
            / np.sqrt((qv[a] ** 2).sum() * (qv[b] ** 2).sum())
        )

    out = {
        (r["query_id"], r["layer"]): (r["node_id"], r["cosine"])
        for r in _descent(spark, sf_dir).collect()
    }
    for (q, layer), (node, c) in out.items():
        if layer != 4:
            continue
        best = max(cos(q, m) for m in l4)
        assert cos(q, entry) - 1e-9 <= c <= best + 1e-9


def test_descent_deterministic(spark, sf_dir):
    a = sorted(tuple(r) for r in _descent(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in _descent(spark, sf_dir).collect())
    assert a == b


def test_descent_validates_params(spark, sf_dir):
    with pytest.raises(ValueError, match="steps"):
        _descent(spark, sf_dir, steps=0)
    with pytest.raises(ValueError, match="min_layer"):
        _descent(spark, sf_dir, min_layer=0)


def test_descent_cap_guard(spark, sf_dir):
    with pytest.raises(ValueError, match="members"):
        _descent(spark, sf_dir, cap=2).collect()
