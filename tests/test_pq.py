"""Unit tests for product quantization: codebook shape, encode argmin,
reconstruction, and the degenerate case where PQ search is exact (vectors
that ARE codebook entries). Corpus-level parity lives in test_oracle_parity
via pq_codes / pq_search."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from h2outility_spark.operators.similarity import (
    brute_force_topk,
    pq_codebooks,
    pq_encode,
    pq_reconstruct,
    pq_search,
)


def _emb(spark, rows):
    """8 components per row, each repeated 8 times: the 64-d vectors PQ
    splits, with m=2 subspaces of width 32."""
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v for _ in range(8)], label=lab) for i, v, lab in rows]
    )


def test_pq_codebooks_shape(spark):
    # 64-d, m=2 -> 2 subspaces of width 32; 2 labels -> 4 codebook rows.
    rows = [
        (1, [1, 1, 1, 1, 9, 9, 9, 9], 0),
        (2, [3, 3, 3, 3, 9, 9, 9, 9], 0),
        (3, [5, 5, 5, 5, 0, 0, 0, 0], 1),
    ]
    cbs = pq_codebooks(_emb(spark, rows), m=2)
    got = {(r["s"], r["code"]): r["cvec"] for r in cbs.collect()}
    assert set(got) == {(0, 0), (1, 0), (0, 1), (1, 1)}
    assert got[(0, 0)] == [2.0] * 32  # mean of label-0 first halves
    assert got[(1, 0)] == [9.0] * 32
    assert got[(0, 1)] == [5.0] * 32
    assert got[(1, 1)] == [0.0] * 32


def test_pq_encode_mixes_codes_across_subspaces(spark):
    # The PQ property: a vector can take label-0's code in one subspace and
    # label-1's in the other — k^m reconstruction points from k*m entries.
    rows = [
        (1, [0, 0, 0, 0, 9, 9, 9, 9], 0),
        (2, [8, 8, 8, 8, 1, 1, 1, 1], 1),
    ]
    emb = _emb(spark, rows)
    cbs = pq_codebooks(emb, m=2)
    # mixed vector: first half near label 1's centroid, second near label 0's
    mixed = _emb(spark, [(7, [8, 8, 8, 8, 9, 9, 9, 9], 0)])
    codes = {(r["s"]): r["code"] for r in pq_encode(mixed, cbs, m=2).collect()}
    assert codes == {0: 1, 1: 0}


def test_pq_reconstruct_concatenates_in_subspace_order(spark):
    rows = [(1, [1, 1, 1, 1, 2, 2, 2, 2], 0)]
    emb = _emb(spark, rows)
    cbs = pq_codebooks(emb, m=2)
    codes = pq_encode(emb, cbs, m=2)
    r = pq_reconstruct(codes, cbs).collect()[0]
    assert r["rvec"] == [1.0] * 32 + [2.0] * 32


def test_pq_search_exact_when_vectors_are_centroids(spark):
    # One vector per label -> codebook entries ARE the vectors -> ADC scores
    # equal exact cosine -> PQ top-k == brute-force top-k.
    rows = [
        (1, [1, 0, 0, 0, 1, 0, 0, 0], 0),
        (2, [0, 1, 0, 0, 0, 1, 0, 0], 1),
        (3, [1, 1, 0, 0, 1, 1, 0, 0], 2),
        (4, [0, 0, 1, 0, 0, 0, 1, 0], 3),
    ]
    emb = _emb(spark, rows)
    queries = emb.filter(F.col("vec_id") == 1)
    got = pq_search(emb, queries, k=2, shortlist=3, m=2).select(
        "query_id", "cand_id"
    )
    want = brute_force_topk(emb, queries, k=2).select("query_id", "cand_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
