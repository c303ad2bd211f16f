"""ANN recall thresholds: the approximate paths must provably beat chance,
the production configuration must reach recall@10 >= 0.9 within a 10%
cell-probe fraction, and the LSH prefilter must not lose true pairs.

Measured at sf0.1 (scripts/ann_recall.py -> RECALL.json). The round-6
production config is kmeans-96 cells with m=3 SPILL assignment
(ivf_assign_multi) probing 4 cells: recall@10 0.914 at 4.2% of cells and
12.5% of rows — recall >= 0.9 at 33% fewer rows than round 4's pick
(0.932 @ 18.75% rows). The measured <=10%-rows frontier is the same
shape at probe 3: 0.898 @ 9.4% rows (one neighbor in 500 short of 0.9 —
the 26-config round-6 sweep found nothing better under that budget on
this structure-free corpus; adaptive ratio-spill dominates below ~7%
rows but saturates ~0.87). Spill beats single-assignment at equal
rows-scanned because boundary neighbors are the dominant IVF failure
mode on weakly-clustered corpora (real text embeddings cluster far
better and need smaller m*probe for the same recall). Everything here is
deterministic (fixed-seed k-means, exact brute force), so thresholds are
stable, not flaky.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from h2outility_spark.operators import similarity as sim
from h2outility_spark.operators.kmeans import kmeans
from h2outility_spark.sources.parquet import load_table

SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    df = load_table(spark, SF_DIR_MED, "embeddings").cache()
    df.count()
    yield df
    df.unpersist()


def test_recall_artifact_meets_probe_economics():
    """RECALL.json (scripts/ann_recall.py output at sf0.1) must contain a
    production IVF config with recall@10 >= 0.9 probing <= 10% of cells
    AND scanning <= 13% of rows (the round-6 economics bar: round 4's
    pick scanned 18.75%), plus the measured <=10%-rows frontier point."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "RECALL.json")) as f:
        rec = json.load(f)
    prod = rec["ivf_production"]
    assert prod is not None, "no IVF config met recall>=0.9 at <=10% cells"
    assert prod["recall_at_10"] >= 0.9
    assert prod["cell_frac"] <= 0.10
    assert prod["row_frac"] <= 0.13  # the honest IO dial, tightened in r6
    frontier = rec["ivf_frontier_10pct_rows"]
    assert frontier is not None and frontier["row_frac"] <= 0.10
    assert frontier["recall_at_10"] >= 0.89  # measured 0.898 @ 9.4% rows


def test_rp_lsh_prefilter_recall_is_total(spark, emb):
    """The banded RP-LSH prefilter keeps every true near-dup pair at the
    registered threshold — recall 1.0, same property the oracle-equality of
    neardup_embedding_lsh proves, here as an explicit metric."""
    truth = sim.cosine_neardup_pairs(emb, 0.45).select("id_a", "id_b")
    cand = sim.rp_lsh_candidate_pairs(emb, n_bits=4, n_bands=32).select("id_a", "id_b")
    assert truth.count() > 0
    assert sim.pair_recall(cand, truth) == 1.0


def test_ivf_kmeans_recall_beats_chance_and_probe_scales(spark, emb):
    k = 10
    queries = emb.filter(F.col("vec_id") < 30)
    exact = sim.brute_force_topk(emb, queries, k=k).select("query_id", "cand_id").cache()
    exact.count()

    cent = kmeans(emb, k=16, max_iter=3).withColumnRenamed("cluster", "label")
    assign = sim.ivf_assign_multi(emb, cent, m=1).withColumnRenamed("cell", "km_cell")
    emb_km = (
        emb.join(assign, "vec_id")
        .select("vec_id", "embedding", F.col("km_cell").alias("label"))
        .cache()
    )
    emb_km.count()
    q_km = emb_km.filter(F.col("vec_id") < 30)

    r1 = sim.recall_at_k(
        sim.ivf_search(emb_km, q_km, k=k, n_probe=1).select("query_id", "cand_id"), exact
    )
    r4 = sim.recall_at_k(
        sim.ivf_search(emb_km, q_km, k=k, n_probe=4).select("query_id", "cand_id"), exact
    )
    # scan fraction at probe1 is 1/16; require >= 4x chance, and the
    # probe dial must actually buy recall
    assert r1 >= 0.25, r1
    assert r4 >= r1
    assert r4 >= 0.45, r4


def test_ivf_spill_production_reaches_090_within_10pct_cells(spark, emb):
    """The production IVF shape (k-means cells + spill assignment + exact
    re-rank of the probed union) must hit recall@10 >= 0.9 while probing
    <= 10% of cells. At this corpus size (500 vectors) that is 32 cells,
    m=3, probe 3 (9.4% of cells, measured recall 0.92); at sf0.1 it is 128
    cells, m=2, probe 12 (RECALL.json). Deterministic, so exact
    thresholds."""
    k = 10
    queries = emb.filter(F.col("vec_id") < 30)
    exact = sim.brute_force_topk(emb, queries, k=k).select("query_id", "cand_id").cache()
    exact.count()

    n_cells, m, n_probe = 32, 3, 3
    assert n_probe / n_cells <= 0.10
    cent = kmeans(emb, k=n_cells, max_iter=5).withColumnRenamed("cluster", "label")
    assign = sim.ivf_assign_multi(emb, cent, m=m).withColumnRenamed("cell", "km_cell")
    emb_km = (
        emb.join(assign, "vec_id")
        .select("vec_id", "embedding", F.col("km_cell").alias("label"))
        .cache()
    )
    assert emb_km.count() == m * emb.count()  # every vector spilled m ways
    q = emb.filter(F.col("vec_id") < 30)
    r = sim.recall_at_k(
        sim.ivf_search(emb_km, q, k=k, n_probe=n_probe, spill=True).select("query_id", "cand_id"),
        exact,
    )
    assert r >= 0.90, r
    # spill beats single assignment at the SAME probed-cell budget
    assign1 = sim.ivf_assign_multi(emb, cent, m=1).withColumnRenamed("cell", "km_cell")
    emb_1 = (
        emb.join(assign1, "vec_id")
        .select("vec_id", "embedding", F.col("km_cell").alias("label"))
        .cache()
    )
    emb_1.count()
    r1 = sim.recall_at_k(
        sim.ivf_search(emb_1, q, k=k, n_probe=n_probe).select("query_id", "cand_id"), exact
    )
    assert r > r1, (r, r1)


def test_pq_artifact_meets_compression_economics():
    """RECALL.json must contain a production PQ config with recall@10 >= 0.9
    from a <= 50-candidate exact re-rank, at >= 16x compression — the
    round-4 pick is m=16 subspaces x 64-entry codebooks (16 whole bytes
    per vector, 16x; 12 bytes / 21x with bit-packed 6-bit codes): recall
    ~0.93 on the structure-free synthetic corpus, PQ's worst case."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "RECALL.json")) as f:
        rec = json.load(f)
    prod = rec["pq_production"]
    assert prod is not None, "no PQ config met recall>=0.9 at shortlist<=50"
    assert prod["recall_at_10"] >= 0.9
    assert prod["compression_x"] >= 16
    assert prod["shortlist"] <= 50


def test_pq_kmeans_recall_beats_label_codebooks(spark, emb):
    """Per-subspace k-means codebooks must beat the label-mean quantizer —
    the same structure-vs-no-structure gap the IVF tests prove for cells."""
    k = 10
    queries = emb.filter(F.col("vec_id") < 30)
    exact = sim.brute_force_topk(emb, queries, k=k).select("query_id", "cand_id").cache()
    exact.count()

    label_r = sim.recall_at_k(
        sim.pq_search(emb, queries, k=k, shortlist=50).select("query_id", "cand_id"),
        exact,
    )
    cbs = sim.pq_codebooks_kmeans(emb, m=16, k=16, max_iter=3)
    km_r = sim.recall_at_k(
        sim.pq_search(emb, queries, k=k, shortlist=50, m=16, codebooks=cbs).select(
            "query_id", "cand_id"
        ),
        exact,
    )
    exact.unpersist()
    assert km_r > label_r
    assert km_r >= 0.6


def test_ivf_adaptive_ratio_spill_is_a_subset_concentrated_on_boundaries(spark, emb):
    """ratio-spill keeps rank-1 for every vector, keeps spill copies only
    within the distance-ratio band (a strict subset of fixed-m spill),
    and so lands between 1x and mx assignments — the budget goes to
    boundary vectors instead of taxing every row."""
    cent = kmeans(emb, k=16, max_iter=3).withColumnRenamed("cluster", "label")
    n = emb.count()
    fixed = sim.ivf_assign_multi(emb, cent, m=3).cache()
    adaptive = sim.ivf_assign_multi(emb, cent, m=3, ratio=1.05).cache()
    n_fixed, n_adaptive = fixed.count(), adaptive.count()
    assert n_fixed == 3 * n
    assert n <= n_adaptive < n_fixed
    # subset: every adaptive (vec, cell) is one of the fixed-m assignments
    assert adaptive.join(fixed, ["vec_id", "cell"], "left_anti").count() == 0
    # rank-1 coverage: every vector keeps at least one cell
    assert adaptive.select("vec_id").distinct().count() == n
    fixed.unpersist()
    adaptive.unpersist()


def _exhaustive_case(spark):
    from tests.conftest import SF_DIR

    small = load_table(spark, SF_DIR, "embeddings")
    queries = small.filter(F.col("vec_id") < 10)
    truth = sim.brute_force_topk(small, queries, k=5)
    return small, queries, sorted(truth.collect())


def test_ivf_probing_every_cell_is_brute_force(spark):
    """With every cell probed, IVF scans the whole corpus: its top-5 equals
    brute force row for row, scores included — the shared probe, sides and
    top-k tie-break against the reference path."""
    small, queries, truth = _exhaustive_case(spark)
    n_cells = small.select("label").distinct().count()
    got = sorted(sim.ivf_search(small, queries, k=5, n_probe=n_cells).collect())
    assert len(truth) == 50
    assert got == truth


def test_pq_shortlisting_every_row_is_brute_force(spark):
    """A shortlist as long as the corpus re-ranks every candidate exactly, so
    PQ search equals brute force row for row — the shared ADC and re-rank
    body against the reference path."""
    small, queries, truth = _exhaustive_case(spark)
    got = sorted(sim.pq_search(small, queries, k=5, shortlist=small.count()).collect())
    assert got == truth
