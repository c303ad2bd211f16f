"""Graph propagation operators beyond connected components.

``dedup.connected_components`` (pointer-jumping min-label) answers "which
nodes form one group"; :func:`label_propagation` answers the SEMI-SUPERVISED
question — a few nodes carry known labels (language, topic, quality tier)
and the labels spread along edges to the unlabeled majority by synchronous
majority vote. The standard corpus use: propagate document labels along a
near-dup / similarity graph so one human-labeled doc covers its whole
neighborhood.

Scale shape: the model is NOT broadcastable (one label per node), so each
round is one hash join of the label frame against the edge list plus one
combiner-friendly vote aggregate — O(E) per round, two rounds, no
driver-side state. Determinism: synchronous updates (round t reads only
round t-1), majority with (count DESC, label ASC) tie-break — an
unrolled-CTE SQL oracle reproduces every round exactly (the PageRank
oracle pattern, ``workload_sketch_graph._pagerank_oracle``).

Reference parity note: the reference has no graph surface; this is part
of the beyond-reference large-scale pipeline toolkit (same family as
PageRank / connected components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


_ROUNDS = 2


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str | None = None,
) -> DataFrame:
    """Synchronous majority-label propagation over an undirected graph.

    ``edges``: (id_a, id_b) pairs, treated as undirected and DEDUPLICATED
    (the symmetrized edge set is made distinct here, so a pair listed as
    both (a,b) and (b,a), or repeated, still casts exactly one vote per
    direction — simple-graph semantics, matching an oracle built on
    distinct pairs; self-loops are harmless but contribute a vote).
    ``seeds``: (node, label) rows — these nodes keep their label
    PERMANENTLY.

    In each of the two rounds, every node's next label is::

        coalesce(seed_label,                  -- seeds are clamped
                 majority(neighbor labels),   -- count DESC, label ASC tie-break
                 previous_label)              -- isolated/unreached: keep

    Returns (node, label) for every node appearing in the edge list or
    the seed set; nodes never reached by any label carry NULL.

    ``weight_col``: optional edge-weight column — the vote becomes
    sum(weight) instead of count (count DESC → weight-sum DESC, same
    tie-break). Weighted edges are expected PRE-AGGREGATED (one row per
    undirected pair; byte-identical duplicate rows still collapse in the
    distinct). Integer weights keep the vote fully deterministic; float
    weights inherit float-sum ordering caveats.
    """
    wcols = [F.col(weight_col).alias("w")] if weight_col else []
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"), *wcols)
        .unionByName(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), *wcols)
        )
        .distinct()
    )
    seed = seeds.select(
        F.col("node"), F.col("label").alias("seed_label")
    ).distinct()
    nodes = (
        sym.select(F.col("src").alias("node"))
        .unionByName(sym.select(F.col("dst").alias("node")))
        .unionByName(seed.select("node"))
        .distinct()
    )
    cur = nodes.join(seed, "node", "left").select(
        "node", F.col("seed_label").alias("label")
    )
    rk_w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("label").asc())
    for _ in range(_ROUNDS):
        votes = (
            sym.join(
                cur.filter(F.col("label").isNotNull()).withColumnRenamed("node", "src"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(
                F.sum("w").alias("c") if weight_col else F.count(F.lit(1)).alias("c")
            )
        )
        best = (
            votes.withColumn("rk", F.row_number().over(rk_w))
            .filter(F.col("rk") == 1)
            .select("node", F.col("label").alias("best_label"))
        )
        cur = (
            cur.join(best, "node", "left")
            .join(seed, "node", "left")
            .select(
                "node",
                F.coalesce("seed_label", "best_label", "label").alias("label"),
            )
        )
    return cur.select("node", "label")
