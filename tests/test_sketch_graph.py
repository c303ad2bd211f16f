"""Unit laws for the round-12 additions: manual HLL registers (portable,
mergeable), the relational Bloom filter (no false negatives ever), and
semi-supervised label propagation (synchronous majority vote, clamped
seeds, deterministic tie-break)."""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.operators import graph, sketch


# -- HLL registers -----------------------------------------------------------


def _ids(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_hll_registers_bounded_and_deterministic(spark):
    grid = sketch.hll_registers(_ids(spark, 0, 5000), "k")
    rows = {(r["bucket"], r["reg"]) for r in grid.collect()}
    assert len(rows) <= sketch.HLL_M
    assert all(0 <= b < sketch.HLL_M and 1 <= g <= 33 for b, g in rows)
    again = {(r["bucket"], r["reg"]) for r in sketch.hll_registers(_ids(spark, 0, 5000), "k").collect()}
    assert rows == again  # md5-derived: no RNG state anywhere


def test_hll_merge_equals_union_build(spark):
    # the mergeability law: build per shard, max-merge, equals one-shot build
    a = sketch.hll_registers(_ids(spark, 0, 3000).withColumn("g", F.lit(1)), "k", "g")
    b = sketch.hll_registers(_ids(spark, 2000, 6000).withColumn("g", F.lit(1)), "k", "g")
    merged = sketch.hll_merge(a.unionByName(b), "g")
    oneshot = sketch.hll_registers(_ids(spark, 0, 6000).withColumn("g", F.lit(1)), "k", "g")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, oneshot.collect()))


def test_hll_estimate_within_expected_error(spark):
    # m=256 -> standard error ~6.5%; assert a generous 3-sigma 20% band
    n = 10_000
    grid = sketch.hll_registers(_ids(spark, 0, n).withColumn("g", F.lit(1)), "k", "g")
    est = sketch.hll_estimate(grid, "g").collect()[0]["est_distinct"]
    assert abs(est / n - 1.0) < 0.20, est


def test_hll_small_range_correction_is_tight(spark):
    # tiny cardinalities fall into linear counting, which is near-exact
    n = 40
    grid = sketch.hll_registers(_ids(spark, 0, n).withColumn("g", F.lit(1)), "k", "g")
    est = sketch.hll_estimate(grid, "g").collect()[0]["est_distinct"]
    assert abs(est - n) < 8, est


def _register_grid(spark, reg: int):
    """All 256 buckets at a fixed register value — the simulated
    high-cardinality grid the test-SF data can never produce."""
    return spark.range(sketch.HLL_M).select(
        F.lit(1).alias("g"), F.col("id").alias("bucket"), F.lit(reg).alias("reg")
    )


def test_hll_large_range_correction(spark):
    # all-23 registers: raw = alpha*m^2 / (256 * 2^-23) ~ 1.5e9, past the
    # 2^32/30 threshold -> the 32-bit saturation correction applies
    import math

    est = sketch.hll_estimate(_register_grid(spark, 23), "g").collect()[0]["est_distinct"]
    raw = sketch.HLL_ALPHA_M2 / (sketch.HLL_M * 2.0**-23)
    assert raw > 2.0**32 / 30.0  # the branch under test is really taken
    expected = -(2.0**32) * math.log(1.0 - raw / 2.0**32)
    assert abs(est / expected - 1.0) < 1e-12, (est, expected)
    assert est > raw  # correction always inflates: collisions hide distincts


def test_hll_saturated_grid_is_null(spark):
    # all-33 registers: raw >= 2^32 — beyond the 32-bit hash domain, no
    # recoverable signal; the estimate is NULL (out of contract), never a
    # NaN/negative from ln() of a non-positive argument
    row = sketch.hll_estimate(_register_grid(spark, 33), "g").collect()[0]
    assert row["est_distinct"] is None


def test_hll_empty_grid_estimates_zero(spark):
    # ungrouped aggregate over an empty grid: sum() is NULL -> coalesced to
    # 0.0, all 256 buckets empty -> linear counting gives m*ln(m/m) = 0
    empty = spark.range(0).select(F.col("id").alias("bucket"), F.col("id").alias("reg"))
    est = sketch.hll_estimate(empty).collect()[0]["est_distinct"]
    assert est == 0.0


# -- Bloom filter ------------------------------------------------------------


def test_bloom_never_false_negative(spark):
    keys = _ids(spark, 0, 500)
    bits = sketch.bloom_bits(keys, "k", m_bits=4096, k=3)
    probes = _ids(spark, 0, 2000)
    kept = {r["k"] for r in sketch.bloom_probe(probes, "k", bits, m_bits=4096, k=3).collect()}
    assert set(range(500)) <= kept, "a Bloom filter must never drop a member"


def test_bloom_filters_most_nonmembers(spark):
    # 500 keys in 4096 bits, k=3: fp rate ~ (1-e^{-3*500/4096})^3 ~ 2.9%
    keys = _ids(spark, 0, 500)
    bits = sketch.bloom_bits(keys, "k", m_bits=4096, k=3)
    probes = _ids(spark, 500, 10_500)  # 10k non-members
    n_fp = sketch.bloom_probe(probes, "k", bits, m_bits=4096, k=3).count()
    assert n_fp < 1000, f"false-positive rate implausibly high: {n_fp}/10000"


def test_bloom_probe_survives_colliding_column_names(spark):
    # a probe frame that already owns __p0/__p1 must not break the
    # semi-join (helper names uniquify deterministically)
    keys = _ids(spark, 0, 100)
    bits = sketch.bloom_bits(keys, "k", m_bits=2048, k=2)
    probes = _ids(spark, 0, 300).select(
        "k", F.lit("taken").alias("__p0"), F.lit(7).alias("__p1")
    )
    out = sketch.bloom_probe(probes, "k", bits, m_bits=2048, k=2)
    assert set(out.columns) == {"k", "__p0", "__p1"}  # caller columns intact
    kept = {r["k"] for r in out.collect()}
    assert set(range(100)) <= kept


def test_bloom_probe_no_shuffle_single_scan(spark):
    # the 100 TB contract: probing must not shuffle the big side, and the
    # k semi-joins must pipeline into ONE pass over it (broadcast hash
    # probes chain inside whole-stage codegen; no repeated scan)
    big = spark.range(0, 123457).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    bits = sketch.bloom_bits(_ids(spark, 0, 100), "k", m_bits=1024, k=3)
    plan = (
        sketch.bloom_probe(big, "k", bits, m_bits=1024, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    bad = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "pos#" not in ln
    ]
    # the only permitted exchanges are the bits-BUILD distincts (tiny,
    # bounded by the keys side); the probe side must never repartition
    assert not bad, f"big side must not shuffle: {bad}"
    assert plan.count("Range (0, 123457") == 1, "big side must be scanned exactly once"


def test_bloom_bits_bounded(spark):
    bits = sketch.bloom_bits(_ids(spark, 0, 100_000), "k", m_bits=256, k=3)
    n = bits.count()
    assert n <= 256, "the filter is at most m_bits rows regardless of key count"


# -- label propagation -------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _seeds(spark, rows):
    return spark.createDataFrame(rows, "node long, label string")


def test_labels_spread_along_chain(spark):
    # seed at one end of a 3-hop path: the two rounds reach two hops
    out = graph.label_propagation(
        _edges(spark, [(1, 2), (2, 3), (3, 4)]), _seeds(spark, [(1, "x")])
    )
    got = {r["node"]: r["label"] for r in out.collect()}
    assert got == {1: "x", 2: "x", 3: "x", 4: None}


def test_seeds_are_clamped_and_majority_wins(spark):
    # node 3 neighbors two 'a' seeds and one 'b' seed: majority 'a';
    # the 'b' seed itself must NOT flip to 'a' (clamped)
    edges = _edges(spark, [(1, 3), (2, 3), (4, 3), (1, 4)])
    seeds = _seeds(spark, [(1, "a"), (2, "a"), (4, "b")])
    out = graph.label_propagation(edges, seeds)
    got = {r["node"]: r["label"] for r in out.collect()}
    assert got[3] == "a"
    assert got[4] == "b", "seeded nodes keep their label permanently"


def test_tie_breaks_to_min_label(spark):
    # one 'a' neighbor, one 'b' neighbor: tie -> lexicographically smaller
    out = graph.label_propagation(
        _edges(spark, [(1, 3), (2, 3)]), _seeds(spark, [(1, "b"), (2, "a")])
    )
    got = {r["node"]: r["label"] for r in out.collect()}
    assert got[3] == "a"


def test_unreached_nodes_stay_null(spark):
    out = graph.label_propagation(
        _edges(spark, [(1, 2), (10, 11)]), _seeds(spark, [(1, "x")])
    )
    got = {r["node"]: r["label"] for r in out.collect()}
    assert got[10] is None and got[11] is None
    assert got[2] == "x"


def test_hll_ignores_null_items(spark):
    # count-distinct semantics: NULLs contribute nothing — no NULL-bucket
    # row, identical grid and estimate with or without NULL rows
    clean = _ids(spark, 0, 100).withColumn("g", F.lit(1))
    dirty = clean.unionByName(
        spark.sql("SELECT CAST(NULL AS BIGINT) AS k, 1 AS g FROM range(50)")
    )
    g_clean = sorted(map(tuple, sketch.hll_registers(clean, "k", "g").collect()))
    g_dirty = sorted(map(tuple, sketch.hll_registers(dirty, "k", "g").collect()))
    assert g_clean == g_dirty
    e_clean = sketch.hll_estimate(sketch.hll_registers(clean, "k", "g"), "g").collect()
    e_dirty = sketch.hll_estimate(sketch.hll_registers(dirty, "k", "g"), "g").collect()
    assert e_clean == e_dirty


def test_weighted_vote_beats_counts(spark):
    # node 5: two weight-1 'a' neighbors vs one weight-10 'b' neighbor —
    # unweighted majority says 'a', weighted says 'b'
    edges = spark.createDataFrame(
        [(1, 5, 1), (2, 5, 1), (3, 5, 10)], "id_a long, id_b long, w long"
    )
    seeds = _seeds(spark, [(1, "a"), (2, "a"), (3, "b")])
    unweighted = graph.label_propagation(edges, seeds)
    weighted = graph.label_propagation(edges, seeds, weight_col="w")
    assert {r["node"]: r["label"] for r in unweighted.collect()}[5] == "a"
    assert {r["node"]: r["label"] for r in weighted.collect()}[5] == "b"


def test_weighted_tie_breaks_to_min_label(spark):
    edges = spark.createDataFrame(
        [(1, 5, 3), (2, 5, 3)], "id_a long, id_b long, w long"
    )
    seeds = _seeds(spark, [(1, "b"), (2, "a")])
    out = graph.label_propagation(edges, seeds, weight_col="w")
    assert {r["node"]: r["label"] for r in out.collect()}[5] == "a"
