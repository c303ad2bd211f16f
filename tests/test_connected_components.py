"""Connected-components cluster resolution (dedup.connected_components):
transitive chains collapse to one cluster, pointer jumping converges on a
long chain well inside max_iter, and canonical_docs keeps exactly one doc
per cluster."""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.operators import dedup


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_transitive_chain_single_cluster(spark):
    # A~B, B~C, C~D: one component labeled by its min id, even though
    # A~C / A~D were never pairs
    out = dedup.connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_stay_apart(spark):
    out = dedup.connected_components(_pairs(spark, [(1, 2), (10, 11), (11, 12), (20, 21)]))
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges_with_pointer_jumping(spark):
    # a 40-node path: naive min-propagation needs ~40 rounds; pointer
    # jumping must resolve it within the default max_iter=25
    n = 40
    out = dedup.connected_components(_pairs(spark, [(i, i + 1) for i in range(n)]))
    labs = {r["cluster_id"] for r in out.collect()}
    assert labs == {0}


def test_canonical_docs_keeps_min_and_unclustered(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    clusters = dedup.connected_components(_pairs(spark, [(1, 3), (3, 5)]))
    kept = dedup.canonical_docs(docs, clusters)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 4]
    assert kept.columns == docs.columns


def _union_find_components(edges):
    """20-line pure-Python reference: min id per component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_random_graphs_match_union_find(spark):
    # deterministic pseudo-random graphs (seeded) across several shapes:
    # sparse, dense, star-heavy — all must equal the union-find reference
    import random

    rng = random.Random(41)
    for trial, (n_nodes, n_edges) in enumerate([(30, 12), (25, 60), (50, 30)]):
        edges = []
        for _ in range(n_edges):
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                edges.append((min(a, b), max(a, b)))
        if not edges:
            continue
        want = _union_find_components(edges)
        got = {
            r["node"]: r["cluster_id"]
            for r in dedup.connected_components(_pairs(spark, edges)).collect()
        }
        assert got == want, f"trial {trial}"


def test_pair_order_does_not_matter(spark):
    # same graph, ids presented large-first in the pair columns
    out = dedup.connected_components(_pairs(spark, [(9, 2), (7, 9), (2, 7)]))
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert got == {2: 2, 7: 2, 9: 2}


def test_only_the_returned_round_stays_checkpointed(spark):
    # each superseded round's local checkpoint and the edge checkpoint are
    # released; only the returned round's checkpoint (freed by GC) may stay
    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent()
    out = dedup.connected_components(_pairs(spark, [(i, i + 1) for i in range(12)]))
    assert {r["cluster_id"] for r in out.collect()} == {0}
    assert len(persistent() - before) <= 1
