"""Z-order clustering for TxTable compaction.

Files that cover compact rectangles of the (col1, col2, ...) space let
footer min/max stats prune file reads for selective filters on ANY of the
clustered columns, where a single-axis sort prunes only its own axis.
``TxTable.compact_files(zorder=True)`` rewrites a table's files through
``zordered_frame``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def zorder_expr(norm_cols: list[str]) -> str:
    """SQL expression interleaving the low 16 bits of the given
    (already 0..2^16-1 normalized) integer columns into one Morton/Z
    value. Plain shift-and-mask arithmetic — stays in whole-stage codegen.
    """
    terms = []
    n = len(norm_cols)
    for i in range(16):
        for j, c in enumerate(norm_cols):
            terms.append(f"shiftleft(shiftright({c}, {i}) & 1, {i * n + j})")
    return " + ".join(terms)


def zordered_frame(df: DataFrame, cols: list[str], num_partitions: int | None = None) -> DataFrame:
    """``df`` range-partitioned and sorted by its Morton code over ``cols``
    (helper columns dropped) — the clustering step of
    ``TxTable.compact_files(zorder=True)``.

    Implementation: min/max-normalize each column to 16 bits (one
    tiny global aggregate, broadcast back), interleave bits into a Morton
    code, range-repartition + sort on it. The normalization is rank-free
    (linear min/max) — skewed distributions cluster less evenly than a
    true rank-based Z-order, the standard trade all practical
    implementations make without a histogram pass.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    ranges = df.agg(*aggs)
    out = df.join(F.broadcast(ranges))
    norm_names = []
    span = (1 << 16) - 1
    for c in cols:
        nc = f"__z_{c}"
        norm_names.append(nc)
        out = out.withColumn(
            nc,
            F.expr(
                f"CAST(({span}.0 * (CAST(`{c}` AS DOUBLE) - CAST(`__min_{c}` AS DOUBLE)) / "
                f"greatest(CAST(`__max_{c}` AS DOUBLE) - CAST(`__min_{c}` AS DOUBLE), 1e-12)) AS BIGINT)"
            ),
        )
    out = out.withColumn("__z", F.expr(zorder_expr(norm_names)))
    rp = (
        out.repartitionByRange(num_partitions, "__z")
        if num_partitions is not None
        else out.repartitionByRange("__z")
    )
    return rp.sortWithinPartitions("__z").drop(
        "__z", *norm_names, *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols]
    )
