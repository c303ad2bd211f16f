"""Data layout for the 100 TB store: partitioned parquet and bucketed
tables.

The reference's "layout" was whatever the RDBMS did; its manual work
partitioning (chunk by (site, source, QC), optionally by year —
``H2OSeries.py:115-144``, ``H2OServices.py:176-190`` in /root/reference)
is exactly the partition scheme the columnar store should bake in
(SURVEY.md §4 "Ours to choose").

  * **Partitioned layout** (`write_partitioned`): directory partitions on
    low-cardinality chunk keys (+ year/date). Queries filtering on these
    keys prune whole directories before any IO (`PartitionFilters` in the
    scan node) — the distributed analog of the reference's per-chunk SQL.
    Keep partition count sane: site×year is fine; never partition by a
    high-cardinality key (millions of tiny dirs kill the driver/HMS).
  * **Bucketed layout** (`write_bucketed`): hash buckets on the join/agg
    key. Two tables bucketed the same way join WITHOUT a shuffle
    (Exchange disappears from the plan); repeated aggregations on the
    bucket key skip their exchange too. This is how the fact↔fact joins
    (lineitem↔orders-scale) avoid reshuffling 100 TB per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from h2outility_spark.sources.parquet import read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    derive_year_from: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a directory-partitioned parquet layout; optionally derives a
    ``year`` partition column from a timestamp column (the chunk-by-year
    axis)."""
    out = df
    cols = list(partition_cols)
    if derive_year_from is not None:
        out = out.withColumn("year", F.year(F.col(derive_year_from)))
        cols.append("year")
    out.write.mode(mode).partitionBy(*cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucket pruning + shuffle-free joins require reading back via
    ``spark.table(table)`` (bucket metadata lives in the catalog, not the
    files)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def write_sized(
    df: DataFrame,
    path: str,
    range_cols: list[str] | None = None,
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write parquet with controlled output-file geometry — the knob that
    keeps a 100 TB sink from degenerating into millions of tiny files (or
    a handful of unsplittable giants).

    ``range_cols`` range-repartitions first so each file covers a
    contiguous key range (range-clustered files give min/max footer stats
    real pruning power for time/key-range scans — the poor man's Z-order
    for a single sort axis); ``maxRecordsPerFile`` caps file size without
    forcing one file per partition. Writers that skip the repartition keep
    the upstream partitioning and only apply the per-file cap.
    """
    out = (
        df.repartitionByRange(*range_cols).sortWithinPartitions(*range_cols)
        if range_cols
        else df
    )
    out.write.mode(mode).option("maxRecordsPerFile", target_rows_per_file).parquet(path)


def zorder_expr(norm_cols: list[str], bits: int = 16) -> str:
    """SQL expression interleaving the low ``bits`` bits of the given
    (already 0..2^bits-1 normalized) integer columns into one Morton/Z
    value. Plain shift-and-mask arithmetic — stays in whole-stage codegen.
    """
    terms = []
    n = len(norm_cols)
    for i in range(bits):
        for j, c in enumerate(norm_cols):
            terms.append(f"shiftleft(shiftright({c}, {i}) & 1, {i * n + j})")
    return " + ".join(terms)


def zordered_frame(
    df: DataFrame, cols: list[str], bits: int = 16, num_partitions: int | None = None
) -> DataFrame:
    """``df`` range-partitioned and sorted by its Morton code over ``cols``
    (helper columns dropped) — the clustering step shared by
    ``write_zordered`` and ``TxTable.compact_files(zorder=True)``.

    Implementation: min/max-normalize each column to ``bits`` bits (one
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
    span = (1 << bits) - 1
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
    out = out.withColumn("__z", F.expr(zorder_expr(norm_names, bits)))
    rp = (
        out.repartitionByRange(num_partitions, "__z")
        if num_partitions is not None
        else out.repartitionByRange("__z")
    )
    return rp.sortWithinPartitions("__z").drop(
        "__z", *norm_names, *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: files cover compact rectangles of the
    (col1, col2, ...) space, so footer min/max stats prune file reads for
    selective filters on ANY of the clustered columns — where a single-axis
    sort (write_sized) only prunes its own axis. See ``zordered_frame``
    for the clustering mechanics."""
    (
        zordered_frame(df, cols, bits)
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(path)
    )


def file_prune_fraction(path: str, col: str, lo, hi) -> float:
    """Fraction of data files a [lo, hi] filter on ``col`` can SKIP from
    footer min/max alone — the observable that layout clustering exists to
    maximize (1.0 = every file skipped, 0.0 = full scan)."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = _glob.glob(f"{path}/*.parquet")
    skipped = 0
    for f in files:
        md = pq.read_metadata(f)
        idx = next(i for i in range(len(md.schema)) if md.schema.column(i).name == col)
        stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
        if any(s is None or not s.has_min_max for s in stats):
            # Missing footer stats (legacy INT96, all-null chunk) => the file
            # cannot be proven skippable; count it as scanned.
            continue
        fmin = min(s.min for s in stats)
        fmax = max(s.max for s in stats)
        if fmax < lo or fmin > hi:
            skipped += 1
    return skipped / len(files) if files else 0.0


def is_shuffle_free_join(joined: DataFrame) -> bool:
    """True if the join plan contains no shuffle exchange (bucketed
    co-location worked). Broadcast exchanges don't count — they're the
    small-side plan, not a data reshuffle."""
    plan = joined._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" not in plan
