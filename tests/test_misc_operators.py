"""Micro-tests for helpers not covered elsewhere: the pivot width cap,
k-means, random-projection LSH bucket caps, approximate percentiles."""

from __future__ import annotations

import pytest

from pyspark.sql import DataFrame, Row, functions as F

from h2outility_spark.operators.kmeans import assign_nearest, kmeans
from h2outility_spark.operators.reshape import MAX_PIVOT_WIDTH, PivotWidthError, pivot_wide
from h2outility_spark.sources.parquet import load_table
from tests.conftest import SF_DIR


@pytest.mark.slow
def test_pivot_width_cap_fails_fast(spark):
    """SURVEY §7.4-1 cap-and-warn: an unfiltered catalog must not silently
    generate a 10k-column plan — it fails before any Spark job runs."""
    import pytest

    dv = spark.createDataFrame([Row(ts=1, VariableCode="v0", MethodID=0, DataValue=1.0)])
    pairs = [(f"v{i}", 0) for i in range(MAX_PIVOT_WIDTH + 1)]
    with pytest.raises(PivotWidthError, match="catalog was not"):
        pivot_wide(dv, ["ts"], pairs)
    # at the cap itself the plan is still constructed (no job run here)
    assert len(pivot_wide(dv, ["ts"], pairs[:MAX_PIVOT_WIDTH]).columns) == MAX_PIVOT_WIDTH + 1


def inertia(embeddings: DataFrame, centroids_df: DataFrame) -> float:
    """Sum of squared distances to the assigned centroid (fit metric)."""
    rows = (
        centroids_df.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))).alias("p"))
        .select("cluster", F.expr("transform(p, x -> x.centroid_val)").alias("cvec"))
        .collect()
    )
    cents = {(0, r["cluster"]): list(r["cvec"]) for r in rows}
    points = embeddings.select(F.lit(0).alias("s"), "vec_id", F.col("embedding").alias("vs"))
    assigned = assign_nearest(points, cents)
    vv = F.aggregate(F.col("__v"), F.lit(0.0), lambda a, x: a + x * x)
    return assigned.select(F.sum(vv + F.col("__d")).alias("s")).collect()[0]["s"]


def test_kmeans_reduces_inertia(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    one_step = kmeans(emb, k=4, max_iter=1)
    five_step = kmeans(emb, k=4, max_iter=5)
    i1 = inertia(emb, one_step)
    i5 = inertia(emb, five_step)
    assert i5 <= i1 + 1e-6
    assert five_step.count() == 4 * 64


def test_lsh_boilerplate_bucket_pairs_in_full(spark):
    """A boilerplate cluster (many docs sharing one band key) is not
    quarantined: it pairs fully (k² pairs), beside the small colliding
    groups, each pair emitted once across bands."""
    from h2outility_spark.operators.dedup import lsh_candidate_pairs

    # 30 boilerplate docs share signature "HOT" in band 0; 4 normal docs
    # form two small colliding groups; bands 2..7 are unique per doc, so
    # nothing else collides.
    def sig(doc_id, mh0, mh1):
        return Row(doc_id=doc_id, mh0=mh0, mh1=mh1, **{f"mh{i}": f"{i}-{doc_id}" for i in range(2, 8)})

    rows = [sig(i, "HOT", f"u{i}") for i in range(30)]
    rows += [sig(100, "aa", "x1"), sig(101, "aa", "x2"), sig(102, "bb", "y1"), sig(103, "bb", "y1")]
    sigs = spark.createDataFrame(rows)

    pairs = lsh_candidate_pairs(sigs)
    # HOT k^2 + (100,101) + (102,103) (distinct across its two bands)
    assert pairs.count() == 30 * 29 // 2 + 1 + 1
    assert pairs.filter(F.col("id_a") >= 100).count() == 2


def test_jaccard_bar_is_inclusive_at_one_fifth(spark):
    """jaccard_for_pairs returns only pairs at Jaccard >= 0.2: one shared
    3-gram of 3 + 3 (exactly 1/5) is kept at 0.2; one of 3 + 4 (1/6) is not."""
    from h2outility_spark.operators.dedup import jaccard_for_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y"), (3, "a b c p q r")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = [tuple(r) for r in jaccard_for_pairs(pairs, docs).collect()]
    assert got == [(1, 2, 0.2)]


def test_rp_lsh_bucket_cap(spark):
    """A degenerate direction (many near-identical vectors) is not capped:
    every boilerplate pair collides in some band."""
    import numpy as np

    from h2outility_spark.operators.similarity import rp_lsh_candidate_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    rows = []
    # 40 near-identical "boilerplate" vectors -> one giant bucket per band
    for i in range(40):
        rows.append((i, (base + rng.normal(scale=1e-3, size=64)).tolist()))
    # 6 random vectors
    for i in range(100, 106):
        rows.append((i, rng.normal(size=64).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = rp_lsh_candidate_pairs(emb)
    assert pairs.filter((F.col("id_a") < 100) & (F.col("id_b") < 100)).count() == 40 * 39 // 2


def test_rp_band_keys_match_string_signature(spark):
    """The folded int64 band keys (r14 optimization: one long per band,
    band index in the high bits) must encode EXACTLY the same buckets as
    the string signature sliced per band — the equivalence the candidate
    self-join's result-identity rests on."""
    import numpy as np

    from h2outility_spark.operators.similarity import (
        random_hyperplanes,
        rp_band_udf,
        rp_sig_udf,
    )

    n_bits, n_bands, dim = 4, 8, 64
    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=dim).tolist()) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    planes = random_hyperplanes(n_bits * n_bands, dim)
    sig = rp_sig_udf(planes)
    bu = rp_band_udf(planes, n_bits, n_bands)
    both = emb.select(
        "vec_id", sig(F.col("embedding")).alias("s"), bu(F.col("embedding")).alias("k")
    ).collect()
    for r in both:
        for j in range(n_bands):
            block = r["s"][j * n_bits : (j + 1) * n_bits]
            assert r["k"][j] == int(block, 2) + (j << n_bits), (r["vec_id"], j)

    import pytest

    with pytest.raises(ValueError, match="overflow"):
        rp_band_udf(planes, 60, 32)


def test_approx_percentile_accuracy_vs_exact(spark):
    """The 100 TB twin of the staged grouped_percentiles query:
    approx_percentile (mergeable sketch, one pass, no per-group sort) must
    land within the accuracy contract of the exact interpolated
    percentile. Not oracle-hashable — sketch merge order is partition-
    dependent — so the accuracy bound is pinned here instead."""
    from pyspark.sql import functions as F

    from h2outility_spark.sources.parquet import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    rows = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.9))").alias("exact"),
        F.expr("approx_percentile(value, array(0.25, 0.5, 0.9), 1000)").alias("approx"),
        F.expr("percentile(value, 0.5)").alias("med"),
        (F.max("value") - F.min("value")).alias("spread"),
    ).collect()
    assert rows
    for r in rows:
        for e, a in zip(r["exact"], r["approx"]):
            # approx_percentile's contract is RANK error (<= n/accuracy
            # positions); translate to value space via the group spread
            assert abs(e - a) <= max(0.02 * r["spread"], 1e-9), (r["event_type"], e, a)
