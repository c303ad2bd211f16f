"""Layout tests: partition pruning reaches the scan, and Z-order
clustering lets footer stats prune files on every clustered axis."""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.schema import events_as_datavalues
from h2outility_spark.sources.parquet import load_table, read_parquet
from h2outility_spark.storage import zordered_frame
from tests.conftest import SF_DIR


def test_partition_pruning(spark, tmp_path):
    """read_parquet (footer-typed, no inference job) keeps directory
    partition discovery, so a filter on partition columns prunes whole
    directories in the scan."""
    dv = events_as_datavalues(load_table(spark, SF_DIR, "events"))
    path = str(tmp_path / "dv_part")
    dv.withColumn("year", F.year("LocalDateTime")).write.partitionBy(
        "QualityControlLevelID", "year"
    ).parquet(path)
    back = read_parquet(spark, path)
    q = back.filter((F.col("QualityControlLevelID") == 0) & (F.col("year") == 2024))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # pruned partitions are not even listed in the scan
    assert q.count() == dv.filter(F.col("QualityControlLevelID") == 0).count()


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


def test_zorder_prunes_both_axes(spark, tmp_path):
    """Z-order layout must let footer min/max stats prune files for filters
    on EITHER clustered column; a single-axis sort prunes only its own
    axis. Compared on the same data, same file count."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    n = li.count()
    per_file = max(n // 16, 1)

    single = str(tmp_path / "single")
    zord = str(tmp_path / "zord")
    li.repartitionByRange("l_orderkey").sortWithinPartitions("l_orderkey").write.option(
        "maxRecordsPerFile", per_file
    ).parquet(single)
    zordered_frame(li, ["l_orderkey", "l_partkey"]).write.option(
        "maxRecordsPerFile", per_file
    ).parquet(zord)

    # narrow range on the SECONDARY axis (10% of the key space)
    pk_lo, pk_hi = 1, int(li.agg(F.max("l_partkey")).collect()[0][0] * 0.1)
    prune_single = file_prune_fraction(single, "l_partkey", pk_lo, pk_hi)
    prune_z = file_prune_fraction(zord, "l_partkey", pk_lo, pk_hi)
    assert prune_z > prune_single, (prune_z, prune_single)
    assert prune_z >= 0.4, prune_z  # skips a real fraction, not an epsilon

    # and the PRIMARY axis still prunes under z-order
    ok_lo, ok_hi = 1, int(li.agg(F.max("l_orderkey")).collect()[0][0] * 0.1)
    assert file_prune_fraction(zord, "l_orderkey", ok_lo, ok_hi) >= 0.4

    # layout is a reordering, not a rewrite: same rows
    got = spark.read.parquet(zord)
    assert got.count() == n
    assert got.agg(F.sum("l_quantity")).collect()[0] == li.agg(F.sum("l_quantity")).collect()[0]
