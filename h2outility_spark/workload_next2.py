"""Round-7 registry additions: image resize through the real codec, BPE
token histogram, TxTable clone / vacuum / Z-order, and adaptive IVF
search.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from h2outility_spark.operators import multimodal
from h2outility_spark.sources.parquet import load_table
from h2outility_spark.workload import query

# -- image resize through the real codec -------------------------------------

#: 24x16 gray BMPs resized to max_side 16 -> 16x10 (nearest neighbor,
#: integer source-index arithmetic mirrored exactly in SQL). The mean
#: luma of the RESIZED image is the mean of the sampled source pixels —
#: g(id, x, y) = (id*29 + x*5 + y*11) % 241, R=G=B so luma = g/255.
_RESIZE_W, _RESIZE_H, _RESIZE_SIDE = 24, 16, 16  # -> out 16x10

RESIZE_FEATURES_ORACLE = """
WITH ids AS (SELECT doc_id AS asset_id FROM documents WHERE doc_id < 128),
-- nearest-neighbor source indices for the 16x10 output: src = min(in-1, out_idx*in//out)
px AS (
  SELECT i.asset_id, r.r AS oy, c.c AS ox,
         (i.asset_id * 29 + least(23, c.c * 24 // 16) * 5 + least(15, r.r * 16 // 10) * 11) % 241 AS g
  FROM ids i, generate_series(0, 9) r(r), generate_series(0, 15) c(c)
)
SELECT asset_id,
       CAST(16 AS INT) AS width,
       CAST(10 AS INT) AS height,
       round(sum(CAST(g AS DOUBLE) / 255) / 160, 6) AS mean_luma
FROM px GROUP BY asset_id
"""


@query(
    "image_resize_features",
    oracle=RESIZE_FEATURES_ORACLE,
    description=(
        "Full image-resize round trip through the stdlib codec (decode -> "
        "nearest-neighbor downsample -> encode -> decode) vs pure index "
        "arithmetic"
    ),
)
def q_image_resize_features(spark, sf_dir):
    """Resize real BMPs through the stdlib nearest-neighbor codec, then
    decode the RESIZED payloads and hash-check their dims + mean luma —
    certifies the full resize round trip (decode -> downsample -> encode
    -> decode) against pure index arithmetic."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 128)
    )

    def batches(it):
        from h2outility_spark.codecs import encode_bmp

        for pdf in it:
            payloads = []
            for aid in pdf["asset_id"]:
                a = int(aid)
                rows = [
                    [((a * 29 + x * 5 + y * 11) % 241,) * 3 for x in range(_RESIZE_W)]
                    for y in range(_RESIZE_H)
                ]
                payloads.append(encode_bmp(rows))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "data": payloads})

    assets = ids.mapInPandas(batches, "asset_id long, data binary")
    resized = multimodal.resize_images(assets, max_side=_RESIZE_SIDE)
    feats = multimodal.extract_image_features(resized)
    return feats.select("asset_id", "width", "height", "mean_luma")


# -- BPE-ish token histogram --------------------------------------------------

#: Engine-proof BPE-ish class: alpha runs, digit runs, single other
#: non-space marks — with the whitespace class spelled out (never \s).
BPE_EXPLICIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]"

BPE_TOKEN_HIST_ORACLE = """
WITH tok AS (
  SELECT source,
         CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]')) AS BIGINT)
           AS n_bpe
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(min(n_bpe) AS BIGINT) AS min_bpe,
       CAST(max(n_bpe) AS BIGINT) AS max_bpe
FROM tok GROUP BY source
"""


@query(
    "bpe_token_hist",
    oracle=BPE_TOKEN_HIST_ORACLE,
    description="Per-source BPE-ish token inventory (engine-proof explicit token class)",
)
def q_bpe_token_hist(spark, sf_dir):
    """Per-source BPE-ish token inventory (alpha runs + digit runs +
    single punctuation marks): the sub-word-flavored budget estimate that
    tracks real tokenizer counts far better than whitespace words. The
    token class spells its whitespace out so Java regex and RE2 agree
    character for character."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_EXPLICIT_PATTERN), 0)).cast(
        "bigint"
    )
    return (
        docs.select("source", n_bpe.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.min("n_bpe").alias("min_bpe"),
            F.max("n_bpe").alias("max_bpe"),
        )
    )


# -- TxTable clone independence ----------------------------------------------

TXTABLE_CLONE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 100 < 6
"""


@query(
    "txtable_clone",
    oracle=TXTABLE_CLONE_ORACLE,
    description="Clone independence: hard-link clone stays at the pre-mutation snapshot",
)
def q_txtable_clone(spark, sf_dir):
    """Clone independence: hard-link clone a table, then MUTATE the
    source — the clone's snapshot must still be the exact pre-mutation
    content (the experiment-branch guarantee), which the oracle states
    over orders."""
    from h2outility_spark.storage_tx import TxTable
    from h2outility_spark.workload import _t
    from h2outility_spark.workload_lakehouse import scratch_dir

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    src = TxTable(spark, scratch_dir("h2ou_txclonesrc_"), key_cols=["o_orderkey"])
    src.append(base.filter(F.col("o_orderkey") % 100 < 6))
    clone = src.clone(scratch_dir("h2ou_txclonedst_") + "/t")
    src.merge_upsert(
        base.filter(F.col("o_orderkey") % 100 < 3).withColumn(
            "o_totalprice", F.col("o_totalprice") * 7
        )
    )
    return clone.snapshot().select("o_orderkey", "o_custkey", "o_totalprice")




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
    from h2outility_spark.operators import similarity
    from h2outility_spark.workload import _t, fround

    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.centroids_by_label(emb).withColumn(
        "centroid_val", fround(F.col("centroid_val"), 6)
    )
    assign = similarity.ivf_assign_multi(emb, cents, m=3, ratio=1.05).withColumnRenamed(
        "cell", "spill_cell"
    )
    emb_sp = emb.join(assign, "vec_id").select(
        "vec_id", "embedding", F.col("spill_cell").alias("label")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_search(emb_sp, queries, k=3, n_probe=2, spill=True)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


# -- TxTable vacuum invariance ------------------------------------------------

TXTABLE_VACUUM_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice * 4 AS DOUBLE) AS o_totalprice,
       CAST(TRUE AS BOOLEAN) AS reclaimed
FROM orders WHERE o_orderkey % 100 < 3
"""


@query(
    "txtable_vacuum",
    oracle=TXTABLE_VACUUM_ORACLE,
    description="Vacuum reclaims stranded files while the live snapshot is invariant",
)
def q_txtable_vacuum(spark, sf_dir):
    """Vacuum invariance: after an overwrite strands the original files,
    vacuum(keep_versions=1) physically deletes them while the LIVE
    snapshot stays exactly the overwrite's content; the reclaimed flag
    carries the measured deletion count into the hash (retention 0 is
    safe here — the builder is the only writer of its scratch table)."""
    from h2outility_spark.storage_tx import TxTable
    from h2outility_spark.workload import _t
    from h2outility_spark.workload_lakehouse import scratch_dir

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    t = TxTable(spark, scratch_dir("h2ou_txvacuum_"), key_cols=["o_orderkey"])
    t.append(base.filter(F.col("o_orderkey") % 100 < 3))
    t.overwrite(
        base.filter(F.col("o_orderkey") % 100 < 3).withColumn(
            "o_totalprice", F.col("o_totalprice") * 4
        )
    )
    deleted = t.vacuum(keep_versions=1, retention_seconds=0)
    return t.snapshot().select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(bool(len(deleted) > 0)).alias("reclaimed"),
    )



# -- TxTable z-order compaction invariance ------------------------------------

TXTABLE_ZORDER_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(TRUE AS BOOLEAN) AS compacted
FROM orders WHERE o_orderkey % 100 < 8
"""


@query(
    "txtable_zorder",
    oracle=TXTABLE_ZORDER_ORACLE,
    description="Z-order compaction: Morton-clustered rewrite, logically identical table",
)
def q_txtable_zorder(spark, sf_dir):
    """Z-ORDER compaction invariance: four small appends on a TWO-key
    table, then compact_files(zorder=True) rewrites them Morton-clustered
    across both key axes — physically reordered, logically identical (the
    oracle states the union of the appends). The clustering's payoff
    (tight per-file min/max on EVERY axis) is proven by the storage
    tests; this pair makes the data-identity half driver-hashable."""
    from h2outility_spark.storage_tx import TxTable
    from h2outility_spark.workload import _t
    from h2outility_spark.workload_lakehouse import scratch_dir

    base = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 100 < 8)
    )
    t = TxTable(spark, scratch_dir("h2ou_txzorder_"), key_cols=["o_custkey", "o_orderkey"])
    for k in range(4):
        t.append(base.filter(F.col("o_orderkey") % 4 == k))
    n_before = len(t.files())
    t.compact_files(target_rows=10_000_000, small_rows=10_000_000, zorder=True)
    n_after = len(t.files())
    return t.snapshot().select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lit(bool(n_after < n_before)).alias("compacted"),
    )
