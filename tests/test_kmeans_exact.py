"""Exactness check for the distributed Lloyd's k-means against a pure-Python
reference implementation (VERDICT round-1 item 3: no registered query is
allowed to stay un-oracled; k-means is deterministic by construction —
fixed seeds = first k vectors by id, argmin ties broken by cluster id).

Integer-valued vectors make every partial sum exactly representable, so the
distributed average equals the sequential average bit-for-bit and the
comparison can be ==, not approx.
"""

from __future__ import annotations

from h2outility_spark.operators.kmeans import kmeans


def _lloyd_reference(vecs: dict[int, list[float]], k: int, max_iter: int):
    """20-line sequential Lloyd's mirroring kmeans(): seeds are the first k
    vectors by id; nearest centroid by squared L2 with lowest-cluster-id
    tie-break; empty clusters keep their previous centroid."""
    ids = sorted(vecs)
    centroids = [list(vecs[i]) for i in ids[:k]]
    for _ in range(max_iter):
        members: dict[int, list[int]] = {c: [] for c in range(k)}
        for i in ids:
            v = vecs[i]
            d = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in centroids]
            best = min(range(k), key=lambda c: (d[c], c))
            members[best].append(i)
        for c in range(k):
            if members[c]:
                n = len(members[c])
                dim = len(centroids[c])
                centroids[c] = [
                    sum(vecs[i][p] for i in members[c]) / n for p in range(dim)
                ]
    return centroids


def test_kmeans_matches_pure_python_lloyds_exactly(spark):
    # integer components, several natural clusters, k=3, enough iterations
    # to converge — all arithmetic exact in float64
    raw = {
        0: [0.0, 0.0, 1.0, 0.0],
        1: [1.0, 0.0, 0.0, 1.0],
        2: [0.0, 1.0, 1.0, 0.0],
        3: [9.0, 8.0, 9.0, 9.0],
        4: [8.0, 9.0, 9.0, 8.0],
        5: [9.0, 9.0, 8.0, 9.0],
        6: [20.0, 21.0, 20.0, 20.0],
        7: [21.0, 20.0, 20.0, 21.0],
        8: [20.0, 20.0, 21.0, 20.0],
        9: [0.0, 1.0, 0.0, 1.0],
        10: [8.0, 8.0, 9.0, 9.0],
        11: [21.0, 21.0, 20.0, 20.0],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in raw.items()], "vec_id int, embedding array<double>"
    )
    got = kmeans(df, k=3, max_iter=4)
    got_map: dict[int, dict[int, float]] = {}
    for r in got.collect():
        got_map.setdefault(r["cluster"], {})[r["pos"]] = r["centroid_val"]

    want = _lloyd_reference(raw, k=3, max_iter=4)
    assert sorted(got_map) == list(range(3))
    for c, cvec in enumerate(want):
        got_vec = [got_map[c][p] for p in sorted(got_map[c])]
        assert got_vec == cvec, f"cluster {c}: {got_vec} != {cvec}"


def test_kmeans_seed_centroids_survive_empty_cluster(spark):
    # two far points, k=2, one degenerate duplicate cluster: the empty
    # cluster (if any) must keep its previous centroid, like the reference
    raw = {0: [0.0, 0.0], 1: [0.0, 0.0], 2: [10.0, 10.0]}
    df = spark.createDataFrame(
        [(i, v) for i, v in raw.items()], "vec_id int, embedding array<double>"
    )
    got = kmeans(df, k=2, max_iter=3)
    want = _lloyd_reference(raw, k=2, max_iter=3)
    got_map: dict[int, dict[int, float]] = {}
    for r in got.collect():
        got_map.setdefault(r["cluster"], {})[r["pos"]] = r["centroid_val"]
    for c, cvec in enumerate(want):
        got_vec = [got_map[c][p] for p in sorted(got_map[c])]
        assert got_vec == cvec


def test_kmeans_grouped_matches_per_group_kmeans_exactly(spark):
    # kmeans_grouped must be the per-group restriction of kmeans: running
    # every group in one pipeline may not change a single centroid
    # component vs looping kmeans() over the groups (integer-valued data
    # keeps all arithmetic exact in float64, so this is equality, not
    # approximation — the contract the grouped PQ trainer relies on)
    from h2outility_spark.operators.kmeans import kmeans_grouped

    raw = {
        0: [0.0, 0.0, 1.0, 0.0],
        1: [1.0, 0.0, 0.0, 1.0],
        2: [9.0, 8.0, 9.0, 9.0],
        3: [8.0, 9.0, 9.0, 8.0],
        4: [20.0, 21.0, 20.0, 20.0],
        5: [21.0, 20.0, 20.0, 21.0],
        6: [0.0, 1.0, 0.0, 1.0],
        7: [8.0, 8.0, 9.0, 9.0],
    }
    # two groups: group 0 = first half of each vector, group 1 = second half
    full = spark.createDataFrame(
        [(i, v) for i, v in raw.items()], "vec_id int, embedding array<double>"
    )
    subs = spark.createDataFrame(
        [(i, s, v[s * 2 : s * 2 + 2]) for i, v in raw.items() for s in (0, 1)],
        "vec_id int, s int, vs array<double>",
    )
    got = kmeans_grouped(subs, k=2, max_iter=3)
    got_map: dict[tuple[int, int], dict[int, float]] = {}
    for r in got.collect():
        got_map.setdefault((r["s"], r["cluster"]), {})[r["pos"]] = r["centroid_val"]

    for s in (0, 1):
        sub = full.selectExpr("vec_id", f"slice(embedding, {s * 2 + 1}, 2) AS embedding")
        want = kmeans(sub, k=2, max_iter=3)
        want_map: dict[int, dict[int, float]] = {}
        for r in want.collect():
            want_map.setdefault(r["cluster"], {})[r["pos"]] = r["centroid_val"]
        for c, cvec in want_map.items():
            assert got_map[(s, c)] == cvec, f"group {s} cluster {c}"
