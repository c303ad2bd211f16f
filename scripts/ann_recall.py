"""ANN quality evaluation: recall of the approximate similarity paths
against their brute-force truths (VERDICT round-1 item 6).

Measures, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1):
  * ivf_recall@10 with two coarse quantizers: the ``label`` column (cheap,
    but the synthetic labels carry no embedding-space structure, so recall
    ~= scan fraction — the honest worst case) and k-means cells trained on
    the vectors themselves (the real IVF composition: kmeans ->
    ivf_assign_multi -> ivf_search). kmeans-16 at probe {1,2,4} shows the
    recall/cost curve's low end; kmeans-64 at probe {4,8,16} is the
    production configuration — probe 16 (25% scan) reaches recall ≥ 0.9 on
    this corpus. The synthetic embeddings have no cluster structure (true
    neighbors scatter across cells), which is IVF's worst case; real text
    embeddings cluster and need far lower probe fractions for the same
    recall.
  * rp_lsh_pair_recall: rp_lsh_candidate_pairs vs the exact cosine>=0.45
    near-dup pair set (0.45 is the registered near-dup threshold for this
    synthetic corpus; the prefilter's job is to not lose true pairs).

Prints ONE JSON line and writes it to RECALL.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from h2outility_spark.operators import similarity as sim
from h2outility_spark.session import get_spark
from h2outility_spark.sources.parquet import load_table


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ann-recall")
    t0 = time.time()
    emb = load_table(spark, sf_dir, "embeddings").cache()
    emb.count()

    queries = emb.filter(emb.vec_id < 50)
    k = 10
    exact = sim.brute_force_topk(emb, queries, k=k).select("query_id", "cand_id").cache()
    exact.count()

    out: dict[str, float] = {}
    for n_probe in (1, 2, 4):
        approx = sim.ivf_search(emb, queries, k=k, n_probe=n_probe).select("query_id", "cand_id")
        out[f"ivf_label_recall_at_{k}_probe{n_probe}"] = round(sim.recall_at_k(approx, exact), 4)

    # k-means coarse quantizer: train cells on the vectors, re-cell the
    # corpus (optionally with redundant spill assignment, m > 1), search
    # with the same ivf_search machinery. Every config records recall AND
    # both cost dials: cell_frac (probed cells / total cells — the
    # partition-pruning fraction) and row_frac (expected rows scanned /
    # corpus rows = m * probe / cells — the honest IO fraction; spill
    # duplicates rows, so cell_frac alone would flatter it).
    from h2outility_spark.operators.kmeans import kmeans

    n_corpus = emb.count()
    configs = []
    for kcells, iters, m, ratio, probes in (
        (64, 5, 1, None, (8, 16)),  # round-3 production baseline (continuity)
        (128, 5, 2, None, (6, 12)),  # round-4 production (m=2 spill, probe 12)
        # Round-6 row-economics search: 96 cells / m=3 is the measured
        # row-efficiency frontier. probe 3 = ~0.898 recall at ~9.4% rows
        # (the <=10%-rows frontier point, one neighbor in 500 short of
        # 0.9); probe 4 = ~0.914 at ~12.5% rows, the production pick
        # (recall >= 0.9 at 33% fewer rows than round 4's 0.932 @
        # 18.75%).
        (96, 10, 3, None, (3, 4)),  # round-6 frontier + production
        # Adaptive distance-ratio spill (ivf_assign_multi(ratio=...)):
        # spill copies only for genuine boundary vectors, serving row
        # budgets BELOW fixed-m's floor (measured here: 0.800 recall at
        # 3.3% rows with probe 3; 0.774 at 2.2% with probe 2 — vs the
        # cheapest fixed-m point, 0.898 at 9.4%); at budgets >= ~9% rows
        # fixed m wins because boundary copies alone can't recover
        # far-cell neighbors on this structure-free corpus. Both configs
        # are IN this committed sweep so RECALL.json carries the numbers:
        # m=2/ratio 1.05 and m=3/ratio 1.05 probe 2 (the registered
        # ivf_search_adaptive query's config).
        (96, 10, 2, 1.05, (2, 3)),
        (96, 10, 3, 1.05, (2, 3)),
    ):
        cent = kmeans(emb, k=kcells, max_iter=iters).withColumnRenamed("cluster", "label")
        assign = sim.ivf_assign_multi(emb, cent, m=m, ratio=ratio).withColumnRenamed("cell", "km_cell")
        emb_km = (
            emb.join(assign, "vec_id")
            .select("vec_id", "embedding", F.col("km_cell").alias("label"))
            .cache()
        )
        n_assign = emb_km.count()
        queries_km = emb.filter(emb.vec_id < 50)
        for n_probe in probes:
            approx = sim.ivf_search(
                emb_km, queries_km, k=k, n_probe=n_probe, spill=(m > 1)
            ).select("query_id", "cand_id")
            r = round(sim.recall_at_k(approx, exact), 4)
            rtag = f"r{ratio}" if ratio else ""
            tag = f"ivf_kmeans{kcells}_m{m}{rtag}_recall_at_{k}_probe{n_probe}"
            out[tag] = r
            configs.append(
                {
                    "cells": kcells,
                    "spill_m": m,
                    "spill_ratio": ratio,
                    "probe": n_probe,
                    "cell_frac": round(n_probe / kcells, 4),
                    "row_frac": round(n_assign * n_probe / kcells / n_corpus, 4),
                    "recall_at_10": r,
                }
            )
        emb_km.unpersist()

    # Product quantization: ADC scan over reconstructed codes + exact
    # re-rank of the top-`shortlist`. Recall here measures how much of the
    # true top-10 the COMPRESSED (32x) representation preserves — the
    # quality cost of trading float scans for code scans. No cells are
    # skipped (that's IVF's dial); at scale the two compose (IVF-PQ).
    # Label codebooks (the oracle-checked registered query's quantizer):
    # honest worst case — synthetic labels carry no embedding-space
    # structure, so all per-label means sit near the global mean and ADC
    # ranking degrades toward chance (cf. ivf_label above).
    for shortlist in (50, 100):
        approx = sim.pq_search(emb, queries, k=k, shortlist=shortlist).select(
            "query_id", "cand_id"
        )
        out[f"pq_label_recall_at_{k}_short{shortlist}"] = round(
            sim.recall_at_k(approx, exact), 4
        )

    # Production codebooks: independent k-means per subspace (FAISS recipe).
    # Each config records its storage cost: bytes/vector = m * ceil(log2(k)/8)
    # rounded up to whole bytes per code (raw = dim * 4 = 256 bytes).
    # Structure-free random embeddings are PQ's worst case (nothing to
    # exploit, quantization error is pure noise) — the dials that recover
    # recall are MORE subspaces (finer partition of the distortion) and
    # bigger per-subspace codebooks.
    pq_configs = []
    for m, kcb in ((8, 16), (16, 64), (32, 16)):
        cbs_km = sim.pq_codebooks_kmeans(emb, m=m, k=kcb, max_iter=5).cache()
        cbs_km.count()
        code_bytes = m * max(1, ((kcb - 1).bit_length() + 7) // 8)
        for shortlist in (50, 100):
            approx = sim.pq_search(
                emb, queries, k=k, shortlist=shortlist, m=m, codebooks=cbs_km
            ).select("query_id", "cand_id")
            r = round(sim.recall_at_k(approx, exact), 4)
            out[f"pq_kmeans{kcb}_m{m}_recall_at_{k}_short{shortlist}"] = r
            pq_configs.append(
                {
                    "m": m,
                    "k_codebook": kcb,
                    "shortlist": shortlist,
                    "bytes_per_vec": code_bytes,
                    "compression_x": round(256 / code_bytes, 1),
                    "recall_at_10": r,
                }
            )
        cbs_km.unpersist()
    pq_production = max(
        (c for c in pq_configs if c["recall_at_10"] >= 0.9 and c["shortlist"] <= 50),
        key=lambda c: c["compression_x"],
        default=None,
    )

    threshold = 0.45
    truth = sim.cosine_neardup_pairs(emb, threshold).select("id_a", "id_b").cache()
    n_truth = truth.count()
    cand = sim.rp_lsh_candidate_pairs(emb, n_bits=4, n_bands=32).select("id_a", "id_b")
    out["rp_lsh_pair_recall_cos045"] = round(sim.pair_recall(cand, truth), 4)
    out["n_true_pairs_cos045"] = n_truth

    # Production pick: of the configs clearing recall 0.9 within 10% of
    # cells, take the CHEAPEST by row fraction (rows scanned is the honest
    # IO dial; cell_frac alone flatters spill configs).
    production = min(
        (c for c in configs if c["recall_at_10"] >= 0.9 and c["cell_frac"] <= 0.10),
        key=lambda c: (c["row_frac"], -c["recall_at_10"]),
        default=None,
    )
    # The measured <=10%-rows frontier (best recall at row_frac <= 0.10),
    # recorded separately so the row-economics story stays auditable.
    frontier = max(
        (c for c in configs if c["row_frac"] <= 0.10),
        key=lambda c: c["recall_at_10"],
        default=None,
    )
    result = {
        "metric": "ann_recall",
        "sf_dir": sf_dir,
        "k": k,
        "n_queries": 50,
        "values": out,
        "ivf_configs": configs,
        "ivf_production": production,
        "ivf_frontier_10pct_rows": frontier,
        "pq_configs": pq_configs,
        "pq_production": pq_production,
        "wall_sec": round(time.time() - t0, 1),
    }
    line = json.dumps(result)
    print(line)
    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "RECALL.json"), "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
