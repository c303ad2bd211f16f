"""Vector-similarity family: brute-force and LSH cosine search, k-means,
IVF and product-quantization ANN (plain, adaptive-spill and composed
IVF-PQ), hybrid lexical+semantic retrieval, embedding near-dup and semantic
dedup, quantization and drift certificates — each with a DuckDB oracle.

Parity device: every inner product on the oracle side is
``list_inner_product``, a left-to-right fold like the Spark-side ``dot``,
so distances agree bit-for-bit; centroids and scores are rounded on both
sides before any argmin/threshold that could flip on the last ulp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.functions import fround
from h2outility_spark.operators import similarity
from h2outility_spark.workload import _t, query, sql_round


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "embedding_knn",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (
      SELECT query_id, cand_id,
             list_inner_product(qv, cv)
               / sqrt(list_inner_product(qv, qv) * list_inner_product(cv, cv)) AS cos_raw
      FROM c, q WHERE cand_id <> query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_raw DESC, cand_id) AS rk FROM s)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM r WHERE rk <= 5
    """,
    description="Brute-force cosine top-5 neighbors for query vectors (vec_id < 10)",
    bench=True,
)
def q_embedding_knn(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    topk = similarity.brute_force_topk(emb, queries, k=5)
    return topk.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, CAST(pos - 1 AS INT) AS pos,
           floor((avg(x)) * 1000000.0 + 0.5) / 1000000.0 AS centroid_val
    FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY 1, 2
    """,
    description="IVF coarse quantizer: element-wise mean embedding per label (posexplode + groupBy)",
)
def q_embedding_centroids(spark, sf_dir):
    cents = similarity.centroids_by_label(_t(spark, sf_dir, "embeddings"))
    return cents.select("label", F.col("pos").cast("int").alias("pos"), fround(F.col("centroid_val"), 6).alias("centroid_val"))


@query(
    "neardup_embedding_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_inner_product(a.v, b.v)
                  / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v)
          / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) >= 0.45
    """,
    description=(
        "Embedding-cosine near-dup pairs (threshold 0.45): exact verifier run global here; "
        "at corpus scale it verifies within LSH/IVF buckets only"
    ),
)
def q_neardup_embedding_pairs(spark, sf_dir):
    out = similarity.cosine_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)
    return out.select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


@query(
    "neardup_embedding_lsh",
    bench=True,
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_inner_product(a.v, b.v)
                  / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v)
          / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) >= 0.45
    """,
    description=(
        "Embedding near-dup via RP-LSH prefilter (4-bit x 32-band bucketed self-join) + "
        "exact in-bucket cosine verify — the scale path; brute-force oracle proves recall 1.0"
    ),
)
def q_neardup_embedding_lsh(spark, sf_dir):
    out = similarity.cosine_neardup_pairs_lsh(_t(spark, sf_dir, "embeddings"), threshold=0.45)
    return out.select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


def _rp_lsh_oracle() -> str:
    planes = similarity.random_hyperplanes(16, 64)
    bits = []
    for row in planes:
        arr = "[" + ", ".join(f"{x:.1f}" for x in row) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), {arr}) > 0 THEN '1' ELSE '0' END"
        )
    return f"SELECT vec_id, concat({', '.join(bits)}) AS rp_sig FROM embeddings"


@query(
    "rp_lsh_signatures",
    oracle=_rp_lsh_oracle(),
    description=(
        "Random-hyperplane LSH (SimHash-for-vectors): 16 sign bits from deterministic "
        "md5-derived hyperplanes — the bucket-join prefilter for cosine near-dup"
    ),
)
def q_rp_lsh_signatures(spark, sf_dir):
    return similarity.rp_lsh_signatures(_t(spark, sf_dir, "embeddings"), n_planes=16)


def _kmeans_oracle() -> str:
    """Lloyd's k-means unrolled as chained CTEs — one (assign, update) pair
    per iteration, mirroring operators/kmeans.py step for step:

      seeds   = first k vectors by vec_id (cluster id = rank order);
      assign  = arg-min over the k squared-L2 distances, computed as
                c·c − 2·v·c exactly like ``assign_nearest`` (v·v dropped — constant
                per row), ties broken by cluster id;
      update  = per-cluster per-position average; an empty cluster keeps its
                previous centroid (the LEFT JOIN + coalesce).

    ``list_inner_product`` accumulates left-to-right like the Spark-side
    ``dot`` fold, so distances agree bit-for-bit; centroid averages can
    differ in the last ulp (accumulation order) but both sides round to
    6 dp at the end, exactly as the Spark query does.
    """
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        (
            "c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster, v AS cvec "
            "FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8))"
        ),
    ]
    prev = "c0"
    for i in range(1, 4):
        parts.append(
            f"a{i} AS (SELECT vec_id, v, cluster FROM ("
            "SELECT e.vec_id, e.v, c.cluster, row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            "list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(e.v, c.cvec), c.cluster) AS rn "
            f"FROM e CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        parts.append(
            f"p{i} AS (SELECT cluster, r.range AS pos, avg(v[CAST(r.range AS INT) + 1]) AS cv "
            f"FROM a{i} CROSS JOIN range(64) r GROUP BY 1, 2)"
        )
        parts.append(f"g{i} AS (SELECT cluster, list(cv ORDER BY pos) AS cvec FROM p{i} GROUP BY cluster)")
        parts.append(
            f"c{i} AS (SELECT c.cluster, coalesce(g.cvec, c.cvec) AS cvec "
            f"FROM {prev} c LEFT JOIN g{i} g USING (cluster))"
        )
        prev = f"c{i}"
    final = (
        f"SELECT CAST(cluster AS INT) AS cluster, CAST(p.range AS INT) AS pos, "
        f"{sql_round('cvec[CAST(p.range AS INT) + 1]', 6)} AS centroid_val "
        f"FROM {prev} CROSS JOIN range(64) p"
    )
    return ",\n".join(parts) + "\n" + final


@query(
    "kmeans_centroids",
    oracle=_kmeans_oracle(),
    description=(
        "Lloyd's k-means (k=8, 3 iters) over embeddings: broadcast-model iterations, "
        "assignment as a narrow map, update as one k x dim shuffle"
    ),
)
def q_kmeans_centroids(spark, sf_dir):
    from h2outility_spark.operators.kmeans import kmeans

    out = kmeans(_t(spark, sf_dir, "embeddings"), k=8, max_iter=3)
    return out.select("cluster", "pos", fround(F.col("centroid_val"), 6).alias("centroid_val"))


@query(
    "corpus_clean_embedding",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v)
            / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) >= 0.45
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT vec_id FROM drops)
    """,
    description=(
        "Cross-modal canonicalization: keep each doc unless its EMBEDDING has a "
        "near-duplicate (cos >= 0.45) with a smaller id — RP-LSH prefilter + in-bucket "
        "exact verify feeding an anti join; oracle is the brute-force O(n^2) form, so "
        "equality re-proves prefilter recall 1.0 end-to-end"
    ),
)
def q_corpus_clean_embedding(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    pairs = similarity.cosine_neardup_pairs_lsh(emb, threshold=0.45)
    drops = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        docs.join(drops, docs.doc_id == drops.vec_id, "left_anti")
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


# ---------------------------------------------------------------------------
# IVF similarity search
# ---------------------------------------------------------------------------

@query(
    "ivf_search",
    oracle="""
    WITH cent AS (
      SELECT label, pos,
             floor((avg(x)) * 1000000.0 + 0.5) / 1000000.0 AS cv
      FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
      GROUP BY 1, 2
    ),
    centv AS (SELECT label AS cell, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY 1),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 10),
    qcell AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_inner_product(qv, cvec)
                          / sqrt(list_inner_product(qv, qv) * list_inner_product(cvec, cvec)) DESC,
                          cell) AS rk
        FROM q, centv) WHERE rk = 1
    ),
    s AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             list_inner_product(q.qv, CAST(e.embedding AS DOUBLE[]))
               / sqrt(list_inner_product(q.qv, q.qv)
                      * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS cos_raw
      FROM q JOIN qcell USING (query_id)
             JOIN embeddings e ON e.label = qcell.cell AND e.vec_id <> q.query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM s)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM r WHERE rk <= 3
    """,
    description=(
        "IVF ANN search: probe the nearest centroid cell only (rounded centroids for "
        "engine-stable assignment), exact cosine top-3 within the cell"
    ),
)
def q_ivf_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_search(emb, queries, k=3)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


@query(
    "embedding_stats",
    oracle="""
    SELECT vec_id,
           floor((sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))
                 * 10000.0 + 0.5) / 10000.0 AS l2_norm,
           floor((CAST(list_max(CAST(embedding AS DOUBLE[])) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS max_dim,
           floor((CAST(list_min(CAST(embedding AS DOUBLE[])) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS min_dim
    FROM embeddings
    """,
    description="Array-column scalar surface: L2 norm (fold dot), element max/min per vector",
)
def q_embedding_stats(spark, sf_dir):
    from h2outility_spark.operators.similarity import as_double, dot

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    return emb.select(
        "vec_id",
        fround(F.sqrt(dot(v, v)), 4).alias("l2_norm"),
        fround(F.array_max(v), 4).alias("max_dim"),
        fround(F.array_min(v), 4).alias("min_dim"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed codes + ADC search with exact re-rank
# ---------------------------------------------------------------------------

# Shared oracle CTE chain: per-label mean centroids rounded 6dp -> subspace
# codebooks (m=8 slices of width 8) -> per-(vector, subspace) argmin code.
# Every distance/score is a sequential fold (list_inner_product), matching
# the Spark-side `dot` bit-for-bit — the same parity device as the k-means
# oracle.
_PQ_ENC_CTE = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    cm AS (SELECT label, r.range AS pos, avg(v[CAST(r.range AS INT) + 1]) AS cv
           FROM e CROSS JOIN range(64) r GROUP BY 1, 2),
    cl AS (SELECT label, list(floor(cv * 1000000.0 + 0.5) / 1000000.0 ORDER BY pos) AS cvec
           FROM cm GROUP BY label),
    cb AS (SELECT label AS code, CAST(s.range AS INT) AS s,
                  list_slice(cvec, CAST(s.range * 8 + 1 AS INT), CAST(s.range * 8 + 8 AS INT)) AS cvec
           FROM cl CROSS JOIN range(8) s),
    subs AS (SELECT vec_id, CAST(s.range AS INT) AS s,
                    list_slice(v, CAST(s.range * 8 + 1 AS INT), CAST(s.range * 8 + 8 AS INT)) AS vsub
             FROM e CROSS JOIN range(8) s),
    enc AS (SELECT vec_id, s, code FROM (
        SELECT subs.vec_id, subs.s, cb.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.s
                 ORDER BY list_inner_product(cb.cvec, cb.cvec)
                          - 2.0 * list_inner_product(subs.vsub, cb.cvec), cb.code) AS rn
        FROM subs JOIN cb ON cb.s = subs.s) WHERE rn = 1)
"""


@query(
    "pq_codes",
    oracle="WITH " + _PQ_ENC_CTE + "\n    SELECT vec_id, s, code FROM enc",
    description=(
        "Product-quantization encode: 64-dim vector -> 8 subspace codes (nearest "
        "rounded per-label mean slice by squared L2) — the 32x-compressed scan "
        "representation; broadcast codebooks, narrow-map argmin"
    ),
)
def q_pq_codes(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks(emb)
    return similarity.pq_encode(emb, cbs)


_PQ_SEARCH_TAIL = """
    recon AS (
      SELECT enc.vec_id, flatten(list(cb2.cvec ORDER BY enc.s)) AS rvec
      FROM enc JOIN cbr cb2 ON cb2.s = enc.s AND cb2.code = enc.code
      GROUP BY enc.vec_id),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    approx AS (
      SELECT q.query_id, r.vec_id AS cand_id, q.qv,
             list_inner_product(q.qv, r.rvec)
               / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(r.rvec, r.rvec)) AS asim
      FROM recon r CROSS JOIN q WHERE r.vec_id <> q.query_id),
    short AS (SELECT query_id, cand_id, qv FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY asim DESC, cand_id) AS rn
        FROM approx) WHERE rn <= 50),
    ex AS (
      SELECT s.query_id, s.cand_id,
             list_inner_product(s.qv, e2.v)
               / sqrt(list_inner_product(s.qv, s.qv) * list_inner_product(e2.v, e2.v)) AS cos_raw
      FROM short s JOIN e e2 ON e2.vec_id = s.cand_id)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM ex)
    WHERE rk <= 3
    """


@query(
    "ivfpq_search",
    oracle="WITH " + _PQ_ENC_CTE + """,
    recon AS (
      SELECT enc.vec_id, flatten(list(cb2.cvec ORDER BY enc.s)) AS rvec
      FROM enc JOIN cb cb2 ON cb2.s = enc.s AND cb2.code = enc.code
      GROUP BY enc.vec_id),
    centv AS (SELECT label AS cell, cvec FROM cl),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    qcell AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_inner_product(q.qv, c.cvec)
                          / sqrt(list_inner_product(q.qv, q.qv)
                                 * list_inner_product(c.cvec, c.cvec)) DESC, c.cell) AS rk
        FROM q CROSS JOIN centv c) WHERE rk <= 2),
    approx AS (
      SELECT qc.query_id, qc.qv, e2.vec_id AS cand_id,
             list_inner_product(qc.qv, r.rvec)
               / sqrt(list_inner_product(qc.qv, qc.qv) * list_inner_product(r.rvec, r.rvec)) AS asim
      FROM qcell qc
      JOIN e e2 ON e2.label = qc.cell AND e2.vec_id <> qc.query_id
      JOIN recon r ON r.vec_id = e2.vec_id),
    short AS (SELECT query_id, qv, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY asim DESC, cand_id) AS rn
        FROM approx) WHERE rn <= 30),
    ex AS (
      SELECT s.query_id, s.cand_id,
             list_inner_product(s.qv, e3.v)
               / sqrt(list_inner_product(s.qv, s.qv) * list_inner_product(e3.v, e3.v)) AS cos_raw
      FROM short s JOIN e e3 ON e3.vec_id = s.cand_id)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM ex)
    WHERE rk <= 3
    """,
    description=(
        "Composed IVF-PQ (FAISS IVFADC as DataFrame ops): probe the 2 nearest "
        "cells, ADC-score only the probed cells' candidates against PQ "
        "reconstructions, exact-re-rank the top 30, emit top 3 — cells prune the "
        "scan, codes compress it, the re-rank repairs ranking error"
    ),
)
def q_ivfpq_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivfpq_search(emb, queries)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


def _pq_kmeans_oracle(tail: str | None = None) -> str:
    """PQ with per-subspace k-means codebooks, unrolled as grouped chained
    CTEs — the production training recipe made driver-hashable. Same parity
    devices as _kmeans_oracle: seeds are the first k
    vectors' slices (cluster id = rank order, identical for every subspace
    because every subspace has the same vec_ids), assignment argmin via
    c·c − 2·v·c with sequential-fold inner products, empty clusters keep
    their previous centroid, intermediate centroids stay RAW and only the
    final codebook rounds to 6 dp before the encode argmin (mirroring
    pq_codebooks_kmeans(round_dp=6))."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        (
            "subs AS (SELECT vec_id, CAST(s.range AS INT) AS s, "
            "list_slice(v, CAST(s.range * 8 + 1 AS INT), CAST(s.range * 8 + 8 AS INT)) AS vs "
            "FROM e CROSS JOIN range(8) s)"
        ),
        (
            "c0 AS (SELECT s, cluster, cvec FROM ("
            "SELECT subs.s, subs.vs AS cvec, "
            "(row_number() OVER (PARTITION BY subs.s ORDER BY subs.vec_id)) - 1 AS cluster "
            "FROM subs) WHERE cluster < 8)"
        ),
    ]
    prev = "c0"
    for i in range(1, 3):
        parts.append(
            f"a{i} AS (SELECT vec_id, s, vs, cluster FROM ("
            "SELECT subs.vec_id, subs.s, subs.vs, c.cluster, "
            "row_number() OVER (PARTITION BY subs.vec_id, subs.s "
            "ORDER BY list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(subs.vs, c.cvec), "
            f"c.cluster) AS rn FROM subs JOIN {prev} c ON c.s = subs.s) WHERE rn = 1)"
        )
        parts.append(
            f"p{i} AS (SELECT s, cluster, r.range AS pos, avg(vs[CAST(r.range AS INT) + 1]) AS cv "
            f"FROM a{i} CROSS JOIN range(8) r GROUP BY 1, 2, 3)"
        )
        parts.append(
            f"g{i} AS (SELECT s, cluster, list(cv ORDER BY pos) AS cvec FROM p{i} GROUP BY 1, 2)"
        )
        parts.append(
            f"c{i} AS (SELECT c.s, c.cluster, coalesce(g.cvec, c.cvec) AS cvec "
            f"FROM {prev} c LEFT JOIN g{i} g ON g.s = c.s AND g.cluster = c.cluster)"
        )
        prev = f"c{i}"
    parts.append(
        "cbp AS (SELECT s, cluster AS code, r.range AS pos, "
        "floor(cvec[CAST(r.range AS INT) + 1] * 1000000.0 + 0.5) / 1000000.0 AS cv "
        f"FROM {prev} CROSS JOIN range(8) r)"
    )
    parts.append("cbr AS (SELECT s, code, list(cv ORDER BY pos) AS cvec FROM cbp GROUP BY 1, 2)")
    parts.append(
        "enc AS (SELECT vec_id, s, code FROM ("
        "SELECT subs.vec_id, subs.s, cb.code, "
        "row_number() OVER (PARTITION BY subs.vec_id, subs.s "
        "ORDER BY list_inner_product(cb.cvec, cb.cvec) - 2.0 * list_inner_product(subs.vs, cb.cvec), "
        "cb.code) AS rn FROM subs JOIN cbr cb ON cb.s = subs.s) WHERE rn = 1)"
    )
    if tail is None:
        tail = "SELECT vec_id, s, code FROM enc"
    return ",\n".join(parts) + "\n" + tail


@query(
    "pq_search",
    oracle=_pq_kmeans_oracle(tail="," + _PQ_SEARCH_TAIL),
    description=(
        "Production PQ ANN search end-to-end: per-subspace k-means codebooks "
        "(k=8, 2 Lloyd iterations), ADC scan over reconstructed (quantized) "
        "vectors -> top-50 shortlist -> exact cosine re-rank -> top-3; at scale "
        "the ADC scan reads 8-byte codes instead of 256-byte floats (32x "
        "bandwidth), layerable under IVF cells for scan skipping"
    ),
)
def q_pq_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cbs = similarity.pq_codebooks_kmeans(emb, m=8, k=8, max_iter=2, round_dp=6)
    out = similarity.pq_search(emb, queries, k=3, shortlist=50, codebooks=cbs)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


@query(
    "pq_codes_kmeans",
    oracle=_pq_kmeans_oracle(),
    description=(
        "Production PQ encode: per-subspace k-means codebooks (k=8, 2 Lloyd "
        "iterations per subspace — the FAISS training recipe) rounded 6dp, then "
        "the per-(vector, subspace) argmin code; oracle unrolls all subspaces' "
        "k-means jointly as grouped chained CTEs"
    ),
)
def q_pq_codes_kmeans(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks_kmeans(emb, m=8, k=8, max_iter=2, round_dp=6)
    return similarity.pq_encode(emb, cbs)


# -- hybrid retrieval (RRF fusion) -------------------------------------------

#: Matches operators/similarity.hybrid_search: token-overlap lexical leg,
#: exact-cosine semantic leg, 1/(60+rank) reciprocal-rank fusion, top-10.
#: Sum order is irrelevant (max two addends, IEEE addition is commutative);
#: cosine matches Spark's fold via list_inner_product bit-for-bit.
HYBRID_SEARCH_ORACLE = """
WITH docs AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
queries AS (SELECT doc_id AS query_id, text, embedding FROM docs WHERE doc_id % 97 = 3),
d_tok AS (
  SELECT DISTINCT doc_id AS cand_id,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS tok
  FROM docs WHERE length(trim(text)) > 0
),
q_tok AS (
  SELECT DISTINCT query_id,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS tok
  FROM queries WHERE length(trim(text)) > 0
),
lex AS (
  SELECT query_id, cand_id, count(*) AS n_shared
  FROM q_tok JOIN d_tok USING (tok) GROUP BY 1, 2
),
lex_rank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY n_shared DESC, cand_id) AS rank
  FROM lex
),
sem AS (
  SELECT q.query_id, d.doc_id AS cand_id,
         list_inner_product(q.embedding, d.embedding)
           / sqrt(list_inner_product(q.embedding, q.embedding)
                  * list_inner_product(d.embedding, d.embedding)) AS cos_sim
  FROM queries q CROSS JOIN docs d
),
sem_rank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sem
),
fused AS (
  SELECT query_id, cand_id, sum(contrib) AS rrf_score
  FROM (
    SELECT query_id, cand_id, 1.0 / (60.0 + rank) AS contrib FROM lex_rank
    UNION ALL
    SELECT query_id, cand_id, 1.0 / (60.0 + rank) AS contrib FROM sem_rank
  ) GROUP BY 1, 2
)
SELECT query_id, cand_id,
       """ + sql_round("rrf_score", 9) + """ AS rrf_score,
       row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, cand_id) AS rank
FROM fused
QUALIFY rank <= 10
"""


@query(
    "hybrid_search_knn",
    oracle=HYBRID_SEARCH_ORACLE,
    description=(
        "Hybrid retrieval: token-overlap lexical leg + exact-cosine semantic leg "
        "fused by reciprocal-rank (1/(60+rank)), top-10 per query doc"
    ),
)
def q_hybrid_search_knn(spark, sf_dir):
    """Hybrid lexical+semantic top-10 per query doc (doc_id % 97 == 3 plays
    the query set) over documents joined to their embeddings."""
    docs = (
        _t(spark, sf_dir, "documents")
        .join(
            _t(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "doc_id"),
            "doc_id",
        )
        .select("doc_id", "text", "embedding")
    )
    queries = docs.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("query_id"), "text", "embedding"
    )
    out = similarity.hybrid_search(docs, queries)
    return out.select(
        "query_id", "cand_id", fround(F.col("rrf_score"), 9).alias("rrf_score"), "rank"
    )


# -- adaptive ratio-spill IVF --------------------------------------------------

#: The full adaptive-spill chain in SQL, mirroring the Spark side op by op:
#: label centroids rounded 6dp -> per-vector cell ranks -> keep rank 1 plus
#: spill copies within the 1.05 distance-ratio band -> SPILLED cell
#: centroids (recomputed over the assignment multiset, exactly like
#: ivf_search does on a spill frame) rounded 6dp -> queries probe top-2
#: cells -> exact cosine re-rank of the deduped probed union.
IVF_ADAPTIVE_ORACLE = """
WITH cent0 AS (
  SELECT label, pos, floor((avg(x)) * 1000000.0 + 0.5) / 1000000.0 AS cv
  FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
  GROUP BY 1, 2
),
cent0v AS (SELECT label AS cell, list(cv ORDER BY pos) AS cvec FROM cent0 GROUP BY 1),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
sims AS (
  SELECT v.vec_id, c.cell,
         list_inner_product(vv, cvec)
           / sqrt(list_inner_product(vv, vv) * list_inner_product(cvec, cvec)) AS sim
  FROM v, cent0v c
),
ranked AS (
  SELECT vec_id, cell, sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
  FROM sims
),
best AS (SELECT vec_id, sim AS best_sim FROM ranked WHERE rk = 1),
assign AS (
  SELECT r.vec_id, r.cell
  FROM ranked r JOIN best b USING (vec_id)
  WHERE r.rk <= 3 AND (r.rk = 1 OR (1 - r.sim) <= 1.05 * (1 - b.best_sim))
),
cent1 AS (
  SELECT a.cell, pos, floor((avg(x)) * 1000000.0 + 0.5) / 1000000.0 AS cv
  FROM assign a JOIN (
    SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings) e USING (vec_id)
  GROUP BY 1, 2
),
cent1v AS (SELECT cell, list(cv ORDER BY pos) AS cvec FROM cent1 GROUP BY 1),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10),
qcell AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY list_inner_product(qv, cvec)
                      / sqrt(list_inner_product(qv, qv) * list_inner_product(cvec, cvec)) DESC,
                      cell) AS rk
    FROM q, cent1v) WHERE rk <= 2
),
s AS (
  SELECT q.query_id, a.vec_id AS cand_id,
         max(list_inner_product(q.qv, v.vv)
           / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(v.vv, v.vv))) AS cos_raw
  FROM q JOIN qcell USING (query_id)
         JOIN assign a ON a.cell = qcell.cell AND a.vec_id <> q.query_id
         JOIN v ON v.vec_id = a.vec_id
  GROUP BY 1, 2
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM s)
SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM r WHERE rk <= 3
"""


@query(
    "ivf_search_adaptive",
    oracle=IVF_ADAPTIVE_ORACLE,
    description="IVF ANN with adaptive ratio-spill assignment, op-for-op chained-CTE oracle",
)
def q_ivf_search_adaptive(spark, sf_dir):
    """IVF with ADAPTIVE ratio-spill assignment (m=3, ratio=1.05): spill
    copies only for genuine boundary vectors, queries probe 2 cells, exact
    re-rank of the deduped union — the low-row-budget configuration the
    round-6 recall sweep measured (RECALL.json). Every stage is mirrored
    op-for-op in the chained-CTE oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_search(_spilled(emb), queries, k=3, n_probe=2, spill=True)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


def _spilled(emb):
    """The adaptive spill layout both adaptive queries search: each vector
    in its nearest label cell (centroids rounded 6 dp) plus spill copies
    within the 1.05 distance-ratio band, m=3 — (vec_id, embedding, label)
    rows with label the spill cell."""
    cents = similarity.centroids_by_label(emb).withColumn("centroid_val", fround(F.col("centroid_val"), 6))
    assign = similarity.ivf_assign_multi(emb, cents, m=3, ratio=1.05)
    return emb.join(assign, "vec_id").select("vec_id", "embedding", F.col("cell").alias("label"))


# -- adaptive IVF + PQ compound (IVFADC with ratio-spill cells) ----------------

def _ivfpq_adaptive_oracle() -> str:
    """Splice three certified oracle fragments into the compound chain:
    the adaptive-spill IVF head (IVF_ADAPTIVE_ORACLE up
    through ``qcell`` — label centroids, ratio-1.05 spill assignment,
    spilled-cell centroids, top-2 probe), the production PQ chain
    (_pq_kmeans_oracle — per-subspace k-means codebooks +
    encode), and an ADC-score + exact-re-rank tail. Every fragment is
    already driver-certified on its own; the splice only renames nothing
    (the CTE namespaces are disjoint by construction)."""
    head = IVF_ADAPTIVE_ORACLE.split("\ns AS (")[0].rstrip()  # ends with "),"
    pq = _pq_kmeans_oracle(tail="@@TAIL@@").split("@@TAIL@@")[0].strip()
    assert pq.startswith("WITH ")
    pq_ctes = pq[len("WITH "):].rstrip().rstrip(",")
    tail = """
cand AS (
  SELECT DISTINCT qc.query_id, a.vec_id AS cand_id
  FROM qcell qc JOIN assign a ON a.cell = qc.cell
  WHERE a.vec_id <> qc.query_id
),
recon AS (
  SELECT enc.vec_id, flatten(list(cb2.cvec ORDER BY enc.s)) AS rvec
  FROM enc JOIN cbr cb2 ON cb2.s = enc.s AND cb2.code = enc.code
  GROUP BY enc.vec_id
),
adc AS (
  SELECT c.query_id, c.cand_id,
         list_inner_product(q.qv, r.rvec)
           / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(r.rvec, r.rvec)) AS asim
  FROM cand c JOIN q ON q.query_id = c.query_id JOIN recon r ON r.vec_id = c.cand_id
),
short AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY asim DESC, cand_id) AS rn
    FROM adc) WHERE rn <= 30
),
ex AS (
  SELECT s.query_id, s.cand_id,
         list_inner_product(q.qv, v2.vv)
           / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(v2.vv, v2.vv)) AS cos_raw
  FROM short s JOIN q ON q.query_id = s.query_id JOIN v v2 ON v2.vec_id = s.cand_id
)
SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM ex)
WHERE rk <= 3
"""
    return head + "\n" + pq_ctes + ",\n" + tail


IVFPQ_ADAPTIVE_ORACLE = _ivfpq_adaptive_oracle()


@query(
    "ivfpq_search_adaptive",
    oracle=IVFPQ_ADAPTIVE_ORACLE,
    description="Compound ANN at minimum probe budget: adaptive ratio-spill IVF cells + PQ ADC + exact re-rank",
)
def q_ivfpq_search_adaptive(spark, sf_dir):
    """The compound ANN path at its cheapest configuration: ADAPTIVE
    ratio-spill IVF cells prune WHICH vectors are scanned (m=3, ratio
    1.05, probe 2 — the low-row-budget assignment the committed recall
    sweep measured), PQ codes compress WHAT the scan reads (8x8 k-means
    codebooks, the production recipe), ADC scores the probed candidates
    against reconstructions, and an exact re-rank of the top 30 repairs
    quantization ranking error. A composition of the shared stages — the
    spill layout (:func:`_spilled`) and the k-means codebooks go into
    ``ivfpq_search_cells``, whose cell probe, distinct candidates, ADC
    and re-rank the oracle mirrors CTE for CTE. Scale shape: cells
    prune partitions, codes cut scan bytes 32x, both quantizer tables
    broadcast; the cross joins (vectors/queries x packed centroid or
    codebook tables, every broadcast side <= 128 rows) are the canonical
    IVF probe shape already allowlisted for ivf_search/ivfpq_search.
    """
    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks_kmeans(emb, m=8, k=8, max_iter=2, round_dp=6)
    out = similarity.ivfpq_search_cells(emb, _spilled(emb), emb.filter(F.col("vec_id") < 10), cbs)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


# -- auto-sized RP-LSH signatures: the width DERIVATION on the hash --------------

RP_AUTOSIG_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nb AS (
  SELECT greatest(1, CAST(ceil(log2(greatest(2.0, count(*) / 32.0))) AS INT)) AS bits
  FROM e
),
planes AS (
  -- range() args must be constants, so enumerate a superset of plane ids
  -- (32 bits x 32 bands = 1024 covers any realistic derived width) and
  -- filter to the derived count
  SELECT CAST(j.range AS INT) AS j, CAST(d.range AS INT) AS d,
         ('0x' || substr(md5('h' || CAST(j.range AS VARCHAR) || '_' || CAST(d.range AS VARCHAR)), 1, 2))::BIGINT - 127.5 AS p
  FROM range(1024) j CROSS JOIN range(64) d
  WHERE j.range < (SELECT bits FROM nb) * 32
),
dots AS (
  SELECT e.vec_id, planes.j, sum(e.v[planes.d + 1] * planes.p) AS dot
  FROM e, planes
  GROUP BY e.vec_id, planes.j
)
SELECT vec_id,
       string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS rp_sig,
       (SELECT bits FROM nb) AS n_bits
FROM dots GROUP BY vec_id
"""


@query(
    "rp_lsh_autosig",
    oracle=RP_AUTOSIG_ORACLE,
    description="auto-sized RP-LSH signatures: the oracle re-derives the md5 hyperplanes AND the width in SQL",
)
def q_rp_lsh_autosig(spark, sf_dir):
    """The RP-LSH auto-sizing contract certified cross-engine: the band
    width is DERIVED from the corpus size (``auto_n_bits`` —
    ceil(log2(n/32)), so the derived width differs at every test scale)
    and every sign bit of every signature at that width rides the hash.
    The oracle recomputes the md5-derived hyperplanes IN SQL and re-derives
    the width from its own count(*) — a drift in the derivation formula,
    the plane constants, or the sign arithmetic at ANY scale flips the
    hash. Sign decisions are far from zero (plane components O(100), data
    O(1)), so summation order cannot flip a bit."""
    from h2outility_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    bits = similarity.auto_n_bits(n)
    sigs = similarity.rp_lsh_signatures(emb, n_planes=bits * 32)
    return sigs.select("vec_id", "rp_sig", F.lit(bits).cast("int").alias("n_bits"))


# -- int8 embedding quantization certificate ----------------------------------------

EMB_QUANTIZE_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (
  SELECT e.vec_id, max(abs(u.x)) AS maxabs, CAST(count(*) AS BIGINT) AS n_dims
  FROM e, unnest(e.v) u(x) GROUP BY e.vec_id
),
err AS (
  SELECT e.vec_id,
         max(abs(u.x - floor(u.x / (m.maxabs / 127.0) + 0.5) * (m.maxabs / 127.0))) AS max_err
  FROM e JOIN m ON m.vec_id = e.vec_id, unnest(e.v) u(x)
  WHERE m.maxabs > 0
  GROUP BY e.vec_id
)
SELECT m.vec_id, m.n_dims,
       CASE WHEN m.maxabs > 0
            THEN floor((m.maxabs / 127.0) * 1000000.0 + 0.5) / 1000000.0
       END AS scale,
       coalesce(err.max_err <= (m.maxabs / 127.0) * 0.5 + 1e-9, TRUE) AS quantizes_ok
FROM m LEFT JOIN err ON err.vec_id = m.vec_id
"""


@query(
    "embedding_quantize_error",
    oracle=EMB_QUANTIZE_ORACLE,
    description="per-vector int8 quantization with half-step reconstruction-error certificate on the hash",
)
def q_embedding_quantize_error(spark, sf_dir):
    """Symmetric per-vector int8 quantization with its accuracy
    certificate on the hash — the 4x embedding-storage compression every
    100 TB vector corpus runs before ANN indexing: scale = max|x|/127,
    code = floor(x/scale + 0.5), and the reconstruction error of every
    dimension must stay within half a quantization step. Both engines
    evaluate the identical elementwise IEEE expression shapes, so values
    (not just booleans) agree bit-for-bit; a zero vector has no scale and
    passes vacuously — BOTH engines emit NULL scale for maxabs = 0 (Spark
    via the ungated F.when, the oracle via CASE WHEN m.maxabs > 0), so the
    degenerate all-zero padding vector agrees on every column, not just
    quantizes_ok. Narrow map over the vectors, zero shuffles."""
    from h2outility_spark.operators.similarity import as_double

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    maxabs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    e = e.withColumn("__s", F.when(maxabs > 0, maxabs / F.lit(127.0)))
    s = F.col("__s")
    err = F.array_max(
        F.transform(F.col("v"), lambda x: F.abs(x - F.floor(x / s + F.lit(0.5)) * s))
    )
    return e.select(
        "vec_id",
        F.size("v").cast("bigint").alias("n_dims"),
        fround(s, 6).alias("scale"),
        F.coalesce(err <= s * F.lit(0.5) + F.lit(1e-9), F.lit(True)).alias("quantizes_ok"),
    )


# -- per-source embedding drift across ingest batches ------------------------------------

EMB_DRIFT_ORACLE = """
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v, label, vec_id % 4 AS batch
  FROM embeddings
),
c AS (
  SELECT label, batch, r.range AS pos, avg(v[CAST(r.range AS INT) + 1]) AS cv
  FROM e CROSS JOIN range(64) r GROUP BY 1, 2, 3
),
d AS (
  SELECT a.label, a.batch, sum((a.cv - b.cv) * (a.cv - b.cv)) AS s2
  FROM c a JOIN c b ON a.label = b.label AND b.batch = a.batch - 1 AND a.pos = b.pos
  GROUP BY 1, 2
)
SELECT label, CAST(batch AS BIGINT) AS batch,
       floor(sqrt(s2) * 10000.0 + 0.5) / 10000.0 AS drift_l2
FROM d
"""


@query(
    "embedding_drift_batches",
    oracle=EMB_DRIFT_ORACLE,
    description="per-source embedding drift: L2 between consecutive ingest-batch centroids (one posexplode + hash agg)",
)
def q_embedding_drift_batches(spark, sf_dir):
    """Per-source embedding DRIFT monitoring (the NOTES r11 §5 seed): the
    alarm a production corpus pipeline watches on its encoder — has a
    source's embedding distribution moved between ingest batches? Batch =
    vec_id % 4 (the deterministic ingest-slice convention the incremental
    dedup pairs use), centroid = per-position mean per (label, batch) —
    ONE posexplode (×64) into ONE combiner-friendly hash aggregate, the
    same bounded-output shape as the sketch grids — and drift = L2
    between consecutive batch centroids, a join of two tiny centroid
    frames. Only the averages' accumulation order is engine-dependent
    (the r9 lesson), so the distance is rounded at 4 dp on both sides —
    the kmeans-oracle discipline."""
    e = _t(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 4).alias("batch"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    c = e.groupBy("label", "batch", "pos").agg(F.avg("x").alias("cv"))
    a, b = c.alias("a"), c.alias("b")
    d = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("b.batch") == F.col("a.batch") - 1)
            & (F.col("a.pos") == F.col("b.pos")),
        )
        .groupBy(F.col("a.label").alias("label"), F.col("a.batch").alias("batch"))
        .agg(F.sum(F.pow(F.col("a.cv") - F.col("b.cv"), 2)).alias("s2"))
    )
    return d.select(
        "label",
        F.col("batch").cast("bigint").alias("batch"),
        fround(F.sqrt("s2"), 4).alias("drift_l2"),
    )


# -- realistic-threshold embedding near-dup ----------------------------------------------

_STRICT_THRESHOLD = 0.85
_STRICT_SHIFT = 0.05  # per-coordinate perturbation, applied in DOUBLE space
_STRICT_BITS, _STRICT_BANDS = 8, 24

NEARDUP_STRICT_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x + {_STRICT_SHIFT}) AS v
  FROM e WHERE vec_id % 20 = 0
),
u AS (SELECT * FROM e UNION ALL SELECT * FROM p)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       floor((list_inner_product(a.v, b.v)
              / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)))
             * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v)
      / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v))
      >= {_STRICT_THRESHOLD}
"""


@query(
    "neardup_embedding_strict",
    oracle=NEARDUP_STRICT_ORACLE,
    description="RP-LSH embedding near-dup at the production threshold (cos>=0.85, planted dups, recall-1.0 law)",
    bench=True,
)
def q_neardup_embedding_strict(spark, sf_dir):
    """Embedding near-dup at the threshold the RP-LSH design targets
    (cos ≥ 0.85, θ ≤ 32°): per-band keep for a true pair is ≈ 0.33 with
    8-bit bands, so 24 bands miss a true pair with probability < 1e-4,
    while a random pair survives banding only ~9% of the time — the
    pruning regime the borderline registered 0.45 exemplar
    (``neardup_embedding_lsh``) cannot show. The synthetic embeddings
    are near-orthogonal, so deterministic near-dups are PLANTED (+0.05
    per coordinate in double space for vec_id % 20 == 0; identical IEEE
    arithmetic on both engines) with cosines 0.91–0.95 against their
    sources. The oracle brute-forces the augmented corpus: hash equality
    proves recall 1.0 of the banded path at this threshold."""
    out = similarity.cosine_neardup_pairs_lsh(
        neardup_strict_corpus(spark, sf_dir),
        threshold=_STRICT_THRESHOLD,
        n_bits=_STRICT_BITS,
        n_bands=_STRICT_BANDS,
    )
    return out.select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


def neardup_strict_corpus(spark, sf_dir):
    """The augmented corpus (originals + planted near-dups) the strict
    pair runs on — shared by the registered-config query above and the
    bench's auto-sized scaling variant."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(_STRICT_SHIFT)
        ).alias("embedding"),
    )
    return emb.unionByName(planted)


def neardup_strict_auto(spark, sf_dir, n_rows: int):
    """Bench-only variant of the strict pair with OCCUPANCY-MATCHED band
    width (``n_bits=None`` → ``similarity.auto_n_bits``): the production
    resize discipline for the 100× scaling block — fixed-bit configs
    necessarily grow candidate sets as occupancy², which measures the
    configuration, not the operator. Band count stays at 24, so the
    true-pair miss probability stays < ~1e-3 per pair as bits grow."""
    return similarity.cosine_neardup_pairs_lsh(
        neardup_strict_corpus(spark, sf_dir),
        threshold=_STRICT_THRESHOLD,
        n_bits=None,
        n_bands=_STRICT_BANDS,
        n_rows=n_rows,
    ).select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


# -- semantic dedup: cluster-scoped near-dup with a keep-first policy --------------------

_SEM_K, _SEM_TAU = 8, 0.85

_SEM_CORPUS_CTE = f"""
eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pl AS (
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x + {_STRICT_SHIFT}) AS v
  FROM eb WHERE vec_id % 20 = 0
),
e AS (SELECT * FROM eb UNION ALL SELECT * FROM pl)
"""


SEMANTIC_DEDUP_ORACLE = f"""
WITH {_SEM_CORPUS_CTE},
c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster, v AS cvec
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_SEM_K})
),
a1 AS (SELECT vec_id, v, cluster FROM (
  SELECT e.vec_id, e.v, c.cluster, row_number() OVER (PARTITION BY e.vec_id ORDER BY
    list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(e.v, c.cvec), c.cluster) AS rn
  FROM e CROSS JOIN c0 c) WHERE rn = 1),
p1 AS (SELECT cluster, r.range AS pos,
              {sql_round("avg(v[CAST(r.range AS INT) + 1])", 12)} AS cv
       FROM a1 CROSS JOIN range(64) r GROUP BY 1, 2),
g1 AS (SELECT cluster, list(cv ORDER BY pos) AS cvec FROM p1 GROUP BY cluster),
c1 AS (SELECT c.cluster, coalesce(g.cvec, c.cvec) AS cvec
       FROM c0 c LEFT JOIN g1 g USING (cluster)),
a2 AS (SELECT vec_id, v, cluster FROM (
  SELECT e.vec_id, e.v, c.cluster, row_number() OVER (PARTITION BY e.vec_id ORDER BY
    list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(e.v, c.cvec), c.cluster) AS rn
  FROM e CROSS JOIN c1 c) WHERE rn = 1),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.v, b.v)
        / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v))
        >= {_SEM_TAU}
)
SELECT a2.vec_id, CAST(a2.cluster AS INT) AS cell,
       a2.vec_id NOT IN (SELECT vec_id FROM dup) AS is_canonical
FROM a2
"""


@query(
    "semantic_dedup_cells",
    oracle=SEMANTIC_DEDUP_ORACLE,
    description="SemDeDup-shaped semantic dedup: within-cell near-dup scoping (sum n_c^2, not n^2), keep-smallest-id",
)
def q_semantic_dedup_cells(spark, sf_dir):
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023): cluster the
    corpus (one Lloyd update from first-k seeds — the certified
    ``kmeans_centroids`` machinery), then search near-dups ONLY within a
    cell and keep the smallest id per duplicate group (a doc is
    canonical iff no smaller-id same-cell neighbor at cos ≥ 0.85). The
    within-cell scoping is the scale story: candidate pairs cost
    Σ_cells n_c² instead of n² — at 100 TB the cells come from a stored
    IVF model and each cell's pair scan is an independent task. Run on
    the planted-near-dup corpus so real duplicate groups exist; the
    planted +0.05 shift keeps a copy in its source's cell here, and a
    copy that DID cross a cell boundary would be missed by BOTH engines
    identically (the known SemDeDup recall trade, deterministic under
    the shared model). Every row rides the hash with its cell and
    verdict."""
    from h2outility_spark.operators import kmeans as km
    from h2outility_spark.operators.similarity import dot

    pts = neardup_strict_corpus(spark, sf_dir).select(
        F.lit(0).alias("s"), "vec_id", F.col("embedding").alias("vs")
    )
    cents = km.first_k(pts, _SEM_K)
    # one Lloyd update (assign under seeds, re-average), then final assign
    means = (
        km.assign_nearest(pts, cents)
        .select("cluster", F.posexplode("__v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        # 12-dp round on BOTH engines before the final assignment: Spark's
        # partition-order avg and DuckDB's sequential avg can differ in the
        # last ulp, and a near-equidistant vector would then land in
        # different cells across engines (the r9 embedding_drift lesson).
        .agg(fround(F.avg("x"), 12).alias("cv"))
    )
    for r in similarity.pack_vectors(means, "cluster").collect():
        cents[(0, r["cluster"])] = list(r["cvec"])
    cells = km.assign_nearest(pts, cents).select("vec_id", "cluster", "__v")

    # self-dots precomputed per SIDE (n folds), not per PAIR (Σ n_c²):
    # dot(a,b)/sqrt(na*nb) multiplies the same doubles in the same order
    # as the inline form, so values — and the oracle hash — are unchanged
    a = cells.select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster").alias("ca"),
        F.col("__v").alias("va"),
        dot(F.col("__v"), F.col("__v")).alias("na"),
    )
    b = cells.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("cb"),
        F.col("__v").alias("vb"),
        dot(F.col("__v"), F.col("__v")).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb"))
    dup = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b")))
        .filter(sim >= F.lit(_SEM_TAU))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return cells.join(dup.withColumn("__dup", F.lit(True)), "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("int").alias("cell"),
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("is_canonical"),
    )
