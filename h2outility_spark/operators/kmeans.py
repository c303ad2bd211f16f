"""Lloyd's k-means over an embedding column — the iterative-algorithm
pattern (driver-side loop over a broadcast-size model, distributed
assignment + re-estimation per iteration).

Spark shape per iteration:
  assign:   broadcast join against the k-row centroid frame, squared-L2
            via zip_with/aggregate fold, argmin as groupBy(min(struct)) —
            data-side expressions stay small and constant-size no matter
            how large k or dim get (a literal-array when-chain variant
            measured 20x slower purely in plan/codegen compilation);
  update:   posexplode + groupBy(cluster, pos) — one shuffle whose volume
            is k×dim partial sums (map-side combined), NOT the corpus.

The model (k×dim doubles) lives on the driver between iterations — the
only thing collected. Deterministic: seeds are the first k vectors by id,
ties broken by cluster id (min-struct ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from h2outility_spark.operators.similarity import as_double, dot


def _centroid_frame(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    rows = [(cid, cvec, sum(x * x for x in cvec)) for cid, cvec in centroids]
    return spark.createDataFrame(rows, "cluster int, cvec array<double>, cc double")


def _assign(vectors: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest centroid by squared L2 (v·v dropped — constant per row):
    one broadcast join + one groupBy argmin."""
    spark = vectors.sparkSession
    cents = _centroid_frame(spark, centroids)
    v = as_double(F.col("embedding"))
    scored = (
        vectors.select(F.col("vec_id"), v.alias("__v"))
        .join(F.broadcast(cents))
        .select(
            F.col("vec_id"),
            "__v",
            "cluster",
            (F.col("cc") - F.lit(2.0) * dot(F.col("__v"), F.col("cvec"))).alias("__d"),
        )
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct(F.col("__d"), F.col("cluster"))).alias("__m"), F.first("__v").alias("__v"))
        .select(F.col("vec_id"), F.col("__m.cluster").alias("cluster"), "__v", F.col("__m.__d").alias("__part_d"))
    )


def kmeans(embeddings: DataFrame, k: int = 8, max_iter: int = 5) -> DataFrame:
    """Returns (cluster, pos, centroid_val) rows for the final model."""
    seeds = (
        embeddings.orderBy("vec_id")
        .limit(k)
        .select(as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    centroids = [(i, list(r["v"])) for i, r in enumerate(seeds)]
    for _ in range(max_iter):
        assigned = _assign(embeddings, centroids)
        new_rows = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("cv"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
            .select("cluster", F.expr("transform(pairs, p -> p.cv)").alias("cvec"))
            .collect()
        )
        updated = {r["cluster"]: list(r["cvec"]) for r in new_rows}
        centroids = [(cid, updated.get(cid, cvec)) for cid, cvec in centroids]
    out = [(cid, pos, val) for cid, cvec in centroids for pos, val in enumerate(cvec)]
    return embeddings.sparkSession.createDataFrame(out, "cluster int, pos int, centroid_val double")


def kmeans_grouped(subspaces: DataFrame, k: int = 8, max_iter: int = 5) -> DataFrame:
    """Independent Lloyd k-means per GROUP, all groups in one distributed
    pipeline per iteration — the m-subspace PQ trainer without m separate
    driver loops.

    The per-group runs are computationally the per-group restriction of
    :func:`kmeans`: seeds are each group's first k vectors by id (cluster
    id = rank order), assignment argmin is ``c·c − 2·v·c`` with the same
    sequential-fold dot and min-struct tie-break, update is the same
    ``avg`` per (group, cluster, pos), and empty clusters keep their
    previous centroid. What changes is the JOB STRUCTURE: one assignment +
    update job per iteration covering every group (2 + max_iter driver
    round-trips total), instead of per-group loops whose job count grows
    linearly with m — at m=8, max_iter=2 that is 3 collect-jobs instead
    of 24, a pure scheduling win (the r14 pq_* driver-wall fix; the
    joint-grouped shape is exactly how the pq oracle CTEs compute it).

    Model size on the driver: groups × k × dim doubles — same broadcast
    regime as :func:`kmeans`. Returns (group, cluster, pos, centroid_val).
    """
    from pyspark.sql import Window as W

    spark = subspaces.sparkSession
    v = as_double(F.col("vs"))
    seed_rows = (
        subspaces.select(F.col("s"), F.col("vec_id"), v.alias("__v"))
        .withColumn("__rk", F.row_number().over(W.partitionBy("s").orderBy("vec_id")))
        .filter(F.col("__rk") <= k)
        .select("s", (F.col("__rk") - 1).alias("cluster"), "__v")
        .collect()
    )
    cents = {(r["s"], r["cluster"]): list(r["__v"]) for r in seed_rows}
    for _ in range(max_iter):
        rows = [(g, c, cv, sum(x * x for x in cv)) for (g, c), cv in cents.items()]
        cf = spark.createDataFrame(
            rows, "s int, cluster int, cvec array<double>, cc double"
        )
        assigned = (
            subspaces.select(F.col("s"), F.col("vec_id"), v.alias("__v"))
            .join(F.broadcast(cf), "s")
            .select(
                "vec_id",
                "s",
                "__v",
                "cluster",
                (F.col("cc") - F.lit(2.0) * dot(F.col("__v"), F.col("cvec"))).alias("__d"),
            )
            .groupBy("vec_id", "s")
            .agg(F.min(F.struct(F.col("__d"), F.col("cluster"))).alias("__m"), F.first("__v").alias("__v"))
        )
        new_rows = (
            assigned.select(
                F.col("s"),
                F.col("__m.cluster").alias("cluster"),
                F.posexplode("__v").alias("pos", "x"),
            )
            .groupBy("s", "cluster", "pos")
            .agg(F.avg("x").alias("cv"))
            .groupBy("s", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
            .select("s", "cluster", F.expr("transform(pairs, p -> p.cv)").alias("cvec"))
            .collect()
        )
        for r in new_rows:
            cents[(r["s"], r["cluster"])] = list(r["cvec"])
    out = [
        (g, c, pos, val) for (g, c), cv in sorted(cents.items()) for pos, val in enumerate(cv)
    ]
    return spark.createDataFrame(
        out, "s int, cluster int, pos int, centroid_val double"
    )
