"""Emit SIM_RECALL.json — machine-readable ANN recall evidence.

The ANN queries (`sim_lsh_topk`, `sim_ivf_topk`, `sim_ivf_trained_topk`)
are approximate by design, so the driver's hash gate records them
rows-only (SURVEY §2B ≈ rule) and their recall evidence lived only in
pytest assertions (tests/test_llm_ops.py). This artifact exports the
same measurements machine-readably, the way STREAM_EQUIV.json does for
streaming:

- recall@k vs brute-force `cosine_topk` at the registry's exact
  parameters, plus exact-score agreement for every returned pair;
- rerun determinism for the trained-IVF path;
- banded-vs-exact PAIR-SET EQUALITY for the two near-dup families whose
  oracles assume recall 1.0 at fixture scale
  (`dedup_embedding_cosine` → lsh_blocked_pairs vs exact all-pairs
  cosine; `dedup_minhash_pairs` → minhash LSH vs exact n-gram Jaccard;
  simhash banding vs brute-force Hamming).

Floors mirror tests/test_llm_ops.py: ivf >= 0.2, trained ivf >= 0.8,
lsh self-hit = 1.0, near-dup equality = exact.

Run from the repo root:  python scripts/gen_sim_recall.py
Exit code: 0 when every floor is met (``all_floors_met``), else 1.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bigdata_financial_reporting_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from bigdata_financial_reporting_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivf_topk,
    lsh_blocked_pairs,
    lsh_bucket_topk,
    pairwise_above_threshold,
    train_centroids,
)
from bigdata_financial_reporting_spark.operators.simhash import (  # noqa: E402
    hamming64,
    simhash_frame,
    simhash_pairs,
)
from bigdata_financial_reporting_spark.session import get_session  # noqa: E402
from bigdata_financial_reporting_spark.sources.catalog import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
K = 10


def _topk_metrics(ann_rows, exact_top, exact_scores):
    """recall@k + exact-score agreement for an ANN result."""
    hits = sum(1 for r in ann_rows if r.neighbor_id in exact_top.get(r.query_id, set()))
    denom = sum(len(v) for v in exact_top.values())
    score_err = max(
        (abs(exact_scores[(r.query_id, r.neighbor_id)] - r.cosine) for r in ann_rows),
        default=0.0,
    )
    self_hits = {r.query_id for r in ann_rows if r.neighbor_id == r.query_id and r.rank == 1}
    return {
        "returned": len(ann_rows),
        "recall_at_k": round(hits / denom, 4) if denom else None,
        "max_score_error_vs_exact": score_err,
        "rank1_self_hit_all_queries": self_hits == set(exact_top),
    }


def main() -> int:
    spark = get_session(
        "sim-recall",
        extra_conf={
            "spark.sql.shuffle.partitions": "16",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)

    # Brute-force ground truth (registry params: 5 queries, k=10).
    exact_top: dict[int, set[int]] = {}
    for r in cosine_topk(q, e, "vec_id", "vec_id", k=K).collect():
        exact_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(q, e, "vec_id", "vec_id", k=10_000).collect()
    }

    out: dict = {"sf_dir": SF_DIR, "k": K, "n_queries": len(exact_top), "queries": {}}

    # sim_lsh_topk — multi-table hyperplane LSH at the registry params
    # (4 planes x 16 tables, round-5 retune from 6x4 whose recall was
    # 0.30); candidates from any table, scored once. The curve records
    # recall vs candidate cost (scored pairs per query, i.e. the
    # fraction of the corpus the ANN actually touches) so the
    # selectivity/recall trade is machine-readable.
    REG_PLANES, REG_TABLES = 4, 16
    curve = []
    for planes, tables in [(6, 1), (6, 4), (6, 8), (4, 8), (4, 16), (3, 12)]:
        rows = lsh_bucket_topk(
            q, e, "vec_id", "vec_id", n_planes=planes, k=100_000,
            n_tables=tables, neutral_planes=True,
        ).collect()
        hits = sum(
            1
            for r in rows
            if r.rank <= K and r.neighbor_id in exact_top.get(r.query_id, set())
        )
        denom = sum(len(v) for v in exact_top.values())
        curve.append(
            {
                "n_planes": planes,
                "n_tables": tables,
                "recall_at_k": round(hits / denom, 4),
                "scored_pairs_per_query": round(len(rows) / len(exact_top), 1),
            }
        )
    lsh_rows = lsh_bucket_topk(
        q, e, "vec_id", "vec_id", n_planes=REG_PLANES, k=K,
        n_tables=REG_TABLES, neutral_planes=True,
    ).collect()
    out["queries"]["sim_lsh_topk"] = {
        "params": {"n_planes": REG_PLANES, "n_tables": REG_TABLES},
        **_topk_metrics(lsh_rows, exact_top, exact_scores),
        "recall_cost_curve": curve,
        "floor": {"recall_at_k": 0.8, "rank1_self_hit_all_queries": True},
    }

    # sim_ivf_topk — degenerate lowest-id quantizer, 4/16 probing.
    ivf_rows = ivf_topk(
        q, e, "vec_id", "vec_id", n_centroids=16, n_probe=4, k=K
    ).collect()
    out["queries"]["sim_ivf_topk"] = {
        "params": {"n_centroids": 16, "n_probe": 4},
        **_topk_metrics(ivf_rows, exact_top, exact_scores),
        "floor": {"recall_at_k": 0.2},
    }

    # sim_ivf_trained_topk — spherical k-means centroids; also determinism.
    # Each call retrains from scratch ON PURPOSE (the rerun witnesses
    # training determinism); the second training's centroids are reused
    # below by the IVF-PQ block instead of a third identical pass.
    def trained():
        cents = train_centroids(e, "vec_id", n_centroids=16, iterations=2)
        df = ivf_topk(q, e, "vec_id", "vec_id", n_probe=4, k=K, centroids=cents)
        return cents, df

    _, t_df = trained()
    t_rows = t_df.collect()
    t_cents, rerun_df = trained()
    rerun = {(r.query_id, r.neighbor_id): r.cosine for r in rerun_df.collect()}
    first = {(r.query_id, r.neighbor_id): r.cosine for r in t_rows}
    out["queries"]["sim_ivf_trained_topk"] = {
        "params": {"n_centroids": 16, "iterations": 2, "n_probe": 4},
        **_topk_metrics(t_rows, exact_top, exact_scores),
        "deterministic_across_reruns": first == rerun,
        "floor": {"recall_at_k": 0.8},
    }

    # sim_ivfpq_topk — composed IVF-PQ with ADC scoring. Recall is
    # capped by BOTH quantization and the metric mismatch on this
    # fixture (ADC ranks by quantized L2; the ground truth by cosine
    # over unnormalized random vectors), so the floor is deliberately
    # lower than IVF's; determinism and exact-oracle agreement are the
    # hard guarantees (tests + CORRECTNESS gate).
    from bigdata_financial_reporting_spark.operators.similarity import (
        ivfpq_topk,
    )

    pq_rows = ivfpq_topk(q, e, "vec_id", "vec_id").collect()
    denom_pq = sum(len(v) for v in exact_top.values())
    pq_hits = sum(
        1 for r in pq_rows if r.neighbor_id in exact_top.get(r.query_id, set())
    )
    # Trained quantizers (round-5 verdict item 6): spherical-k-means
    # IVF cells + per-subspace Lloyd PQ codebook — the production
    # path — measured alongside the degenerate oracle-parity default,
    # with a recall-vs-cost curve over n_probe (the knob that trades
    # probed-corpus fraction for recall, mirroring the LSH curve).
    from bigdata_financial_reporting_spark.operators.similarity import (
        train_pq_codebook,
    )

    # t_cents reuses the trained() rerun's centroids (identical args,
    # deterministic training — verified by the rerun witness above).
    t_book = train_pq_codebook(e, "vec_id", n_subspaces=8, n_codes=16, iterations=2)
    pq_curve = []
    trained_hits = 0
    for probe in (1, 2, 4, 8, 16):
        rows_p = ivfpq_topk(
            q, e, "vec_id", "vec_id", n_probe=probe,
            centroids=t_cents, codebook=t_book,
        ).collect()
        hits_p = sum(
            1
            for r in rows_p
            if r.neighbor_id in exact_top.get(r.query_id, set())
        )
        pq_curve.append(
            {
                "n_probe": probe,
                "probed_corpus_fraction": round(probe / 16, 4),
                "recall_at_k": round(hits_p / denom_pq, 4),
            }
        )
        if probe == 4:  # the registry default — no separate re-scoring pass
            trained_hits = hits_p
    out["queries"]["sim_ivfpq_topk"] = {
        "params": {
            "n_centroids": 16, "n_probe": 4,
            "n_subspaces": 8, "n_codes": 16,
        },
        "returned": len(pq_rows),
        "recall_at_k": round(pq_hits / denom_pq, 4),
        "trained_recall_at_k": round(trained_hits / denom_pq, 4),
        "recall_cost_curve_trained": pq_curve,
        "metric_note": "ADC ranks by quantized L2; ground truth is cosine",
        "curve_note": (
            "recall plateaus even at n_probe=16 (full corpus probed): "
            "the cap is PQ quantization + the L2-vs-cosine metric "
            "mismatch on this unnormalized fixture, not cell "
            "selection — use sim_ivf_trained_topk (exact re-rank) "
            "when recall matters more than scan bytes"
        ),
        "floor": {"recall_at_k": 0.3},
    }

    # sim_ivfpq_trained_topk (round-11 registry key) — degenerate IVF
    # cells + TRAINED per-subspace PQ codebook, the combination whose
    # training loop is itself oracle-checked. Same metric caveats as
    # sim_ivfpq_topk; the hard guarantees are rerun determinism and
    # the oracle hash (CORRECTNESS gate); recall recorded as evidence.
    tk_rows = ivfpq_topk(
        q, e, "vec_id", "vec_id", codebook=t_book
    ).collect()
    tk_rerun = ivfpq_topk(
        q, e, "vec_id", "vec_id", codebook=t_book
    ).collect()
    tk_hits = sum(
        1 for r in tk_rows if r.neighbor_id in exact_top.get(r.query_id, set())
    )
    out["queries"]["sim_ivfpq_trained_topk"] = {
        "params": {
            "n_centroids": 16, "n_probe": 4,
            "n_subspaces": 8, "n_codes": 16, "trained_codebook": True,
        },
        "returned": len(tk_rows),
        "recall_at_k": round(tk_hits / denom_pq, 4),
        "deterministic_across_reruns": sorted(map(tuple, tk_rows))
        == sorted(map(tuple, tk_rerun)),
        "metric_note": "ADC ranks by quantized L2; ground truth is cosine",
        "floor": {"recall_at_k": 0.3},
    }

    # dedup_embedding_cosine — banded LSH blocking vs exact all-pairs
    # cosine at the registry threshold (0.35). The oracle gate assumes
    # pair-set equality at fixture scale; record it as hard evidence.
    banded = {
        (r.id_a, r.id_b)
        for r in lsh_blocked_pairs(e, "vec_id", "embedding", 0.35).collect()
    }
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in pairwise_above_threshold(e, "vec_id", "embedding", 0.35).collect()
    }
    out["queries"]["dedup_embedding_cosine_lowthresh_witness"] = {
        "params": {"threshold": 0.35},
        "banded_pairs": len(banded),
        "exact_pairs": len(exact_pairs),
        "missed": sorted(exact_pairs - banded),
        "invented": sorted(banded - exact_pairs),
        "pair_sets_equal": banded == exact_pairs,
        "nonvacuous": len(exact_pairs) > 0,
        "floor": {"pair_sets_equal": True},
    }

    # dedup_embedding_cosine — the REGISTERED form (round 8): τ=0.9,
    # r=10 banding over the fixture augmented with planted near-dups
    # (first component doubled, cosine >= 0.9428 by construction).
    from bigdata_financial_reporting_spark.queries.registry import QUERIES

    reg = {
        (r.id_a, r.id_b)
        for r in QUERIES["dedup_embedding_cosine"].fn(spark, SF_DIR).collect()
    }
    planted = e.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x * 2).otherwise(x)
        )
        .cast("array<float>")
        .alias("embedding"),
    )
    aug = e.select("vec_id", "embedding").unionByName(planted)
    exact_reg = {
        (r.id_a, r.id_b)
        for r in pairwise_above_threshold(
            aug, "vec_id", "embedding", 0.9
        ).collect()
    }
    out["queries"]["dedup_embedding_cosine"] = {
        "params": {"threshold": 0.9, "planes_per_band": 10, "n_bands": 32},
        "banded_pairs": len(reg),
        "exact_pairs": len(exact_reg),
        "missed": sorted(exact_reg - reg),
        "invented": sorted(reg - exact_reg),
        "pair_sets_equal": reg == exact_reg,
        "nonvacuous": len(exact_reg) > 0,
        "floor": {"pair_sets_equal": True},
    }

    # dedup_minhash_pairs — minhash banding vs exact n-gram Jaccard.
    d = load_table(spark, SF_DIR, "documents")
    mh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            d, "doc_id", "text", shingle_n=3, num_hashes=128, bands=64, threshold=0.35
        ).collect()
    }
    jac = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.35).collect()
    }
    out["queries"]["dedup_minhash_pairs"] = {
        "params": {"shingle_n": 3, "num_hashes": 128, "bands": 64, "threshold": 0.35},
        "lsh_pairs": len(mh),
        "exact_pairs": len(jac),
        "missed": len(jac - mh),
        "invented": len(mh - jac),
        "pair_sets_equal": mh == jac,
        "nonvacuous": len(jac) > 0,
        "floor": {"pair_sets_equal": True},
    }

    # dedup_simhash — pigeonhole banding vs brute-force Hamming <= 3.
    fp = simhash_frame(d, "doc_id", "text")
    a = fp.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = fp.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(hamming64(F.col("fp_a"), F.col("fp_b")) <= 3)
        .collect()
    }
    banded_sh = {
        (r.id_a, r.id_b) for r in simhash_pairs(d, "doc_id", "text", 3).collect()
    }
    out["queries"]["dedup_simhash"] = {
        "params": {"max_hamming": 3},
        "banded_pairs": len(banded_sh),
        "exact_pairs": len(brute),
        "pair_sets_equal": banded_sh == brute,
        "floor": {"pair_sets_equal": True},
    }

    def _meets(entry: dict) -> bool:
        for key, floor in entry.get("floor", {}).items():
            val = entry.get(key)
            if isinstance(floor, bool):
                if val is not floor:
                    return False
            elif val is None or val < floor:
                return False
        return True

    out["all_floors_met"] = all(_meets(v) for v in out["queries"].values())
    out["wall_sec"] = round(time.time() - t0, 1)
    from bigdata_financial_reporting_spark.oracle_compare import provenance

    out["_provenance"] = provenance()

    path = os.path.join(REPO, "SIM_RECALL.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()
    return 0 if out["all_floors_met"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
