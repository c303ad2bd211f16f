"""Lloyd's k-means over an embedding column — the iterative-algorithm
pattern (driver-side loop over a broadcast-size model, distributed
assignment + re-estimation per iteration).

One Lloyd body: :func:`kmeans_grouped` runs every k-means of the package
(plain ``kmeans`` is it over one group, the PQ trainer over m subspaces),
and :func:`assign_nearest` is its assignment step, which
semantic_dedup_cells also assigns through.

Spark shape per iteration:
  assign:   broadcast join against the k-row centroid frame, squared-L2
            via zip_with/aggregate fold, argmin as groupBy(min(struct)) —
            data-side expressions stay small and constant-size no matter
            how large k or dim get (a literal-array when-chain variant
            measured 20x slower purely in plan/codegen compilation);
  update:   posexplode + groupBy(s, cluster, pos) — one shuffle whose volume
            is k×dim partial sums (map-side combined), NOT the corpus.

The model (k×dim doubles) lives on the driver between iterations — the
only thing collected. Deterministic: seeds are the first k vectors by id,
ties broken by cluster id (min-struct ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from h2outility_spark.operators.similarity import as_double, dot, pack_vectors


def first_k(points: DataFrame, k: int) -> dict[tuple[int, int], list[float]]:
    """Seeds: each group's first ``k`` vectors by id, cluster id = rank
    order. ``points`` is (s, vec_id, vs) rows, ``s`` the group; returns
    {(group, cluster): vector}."""
    rows = (
        points.select(F.col("s"), F.col("vec_id"), as_double(F.col("vs")).alias("__v"))
        .withColumn("__rk", F.row_number().over(Window.partitionBy("s").orderBy("vec_id")))
        .filter(F.col("__rk") <= k)
        .select("s", (F.col("__rk") - 1).alias("cluster"), "__v")
        .collect()
    )
    return {(r["s"], r["cluster"]): list(r["__v"]) for r in rows}


def assign_nearest(points: DataFrame, cents: dict[tuple[int, int], list[float]]) -> DataFrame:
    """One Lloyd assignment: every (s, vec_id, vs) row's nearest centroid of
    its own group by squared L2, computed as ``c·c − 2·v·c`` (v·v is
    constant per row) with the sequential-fold dot, ties to the lower
    cluster id (min-struct order). The centroids are one broadcast
    (s, cluster, cvec, cc) table and the argmin one groupBy. Returns
    (s, vec_id, cluster, __v, __d): ``__v`` the vector as array<double>,
    ``__d`` its ``c·c − 2·v·c``."""
    rows = [(g, c, cv, sum(x * x for x in cv)) for (g, c), cv in cents.items()]
    cf = points.sparkSession.createDataFrame(rows, "s int, cluster int, cvec array<double>, cc double")
    return (
        points.select(F.col("s"), F.col("vec_id"), as_double(F.col("vs")).alias("__v"))
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
        .select("s", "vec_id", F.col("__m.cluster").alias("cluster"), "__v", F.col("__m.__d").alias("__d"))
    )


def kmeans(embeddings: DataFrame, k: int = 8, max_iter: int = 5) -> DataFrame:
    """Lloyd's k-means over the embedding column: :func:`kmeans_grouped`
    over one constant group, the group column dropped. Returns
    (cluster, pos, centroid_val) rows for the final model."""
    one = embeddings.select(F.lit(0).alias("s"), "vec_id", F.col("embedding").alias("vs"))
    return kmeans_grouped(one, k=k, max_iter=max_iter).drop("s")


def kmeans_grouped(subspaces: DataFrame, k: int = 8, max_iter: int = 5) -> DataFrame:
    """Independent Lloyd k-means per GROUP, all groups in one distributed
    pipeline per iteration — the one Lloyd loop of the package: :func:`kmeans`
    is this over one group, and pq_codebooks_kmeans runs it over the m PQ
    subspaces without m separate driver loops.

    ``subspaces`` is (s, vec_id, vs) rows, ``s`` the group. Each group's
    run: seeds are its first k vectors by id (:func:`first_k`), the
    assignment is :func:`assign_nearest`, the update is ``avg`` per
    (group, cluster, pos), and an empty cluster keeps its previous
    centroid. One assignment + update job per iteration covers every group
    (2 + max_iter driver round-trips total), instead of per-group loops
    whose job count grows linearly with m — at m=8, max_iter=2 that is 3
    collect-jobs instead of 24 (the r14 pq_* driver-wall fix; the
    joint-grouped shape is exactly how the pq oracle CTEs compute it).

    Model size on the driver: groups × k × dim doubles, broadcast each
    iteration. Returns (s, cluster, pos, centroid_val).
    """
    cents = first_k(subspaces, k)
    for _ in range(max_iter):
        means = (
            assign_nearest(subspaces, cents)
            .select("s", "cluster", F.posexplode("__v").alias("pos", "x"))
            .groupBy("s", "cluster", "pos")
            .agg(F.avg("x").alias("cv"))
        )
        for r in pack_vectors(means, "s", "cluster").collect():
            cents[(r["s"], r["cluster"])] = list(r["cvec"])
    out = [(g, c, pos, val) for (g, c), cv in sorted(cents.items()) for pos, val in enumerate(cv)]
    return subspaces.sparkSession.createDataFrame(out, "s int, cluster int, pos int, centroid_val double")
