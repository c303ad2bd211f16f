"""SparkSession factory tuned for the test harness (local[N]) while keeping
cluster-scale defaults: AQE on, skew-join handling on, UTC session timezone
(required for DuckDB-oracle parity), Arrow enabled for the Pandas-UDF path.

On a real cluster the same builder works unchanged — only ``master`` and the
memory settings come from the environment instead.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "h2outility-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark ≥4 infers tz-less parquet timestamps as TIMESTAMP_NTZ by
        # default; our data model treats them as UTC instants (as does the
        # DuckDB oracle). load_table reads them as TIMESTAMP through its
        # footer schema whatever this says; this keeps other schema-less
        # reads consistent with it.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Write timestamps as INT64 micros, not legacy INT96: INT96 carries
        # no parquet column statistics, which blinds min/max file pruning
        # (storage_tx merge pruning, range-clustered scan pruning).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Serve bare MIN/MAX/COUNT from parquet footers instead of scanning
        # rows (off by default; Spark only applies it where exact). At 100 TB
        # a watermark max(ts) or a row-count check becomes a metadata read.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE: a too-large local heap causes multi-second kernel stalls in
        # this VM (lazy heap expansion → page zeroing bursts); 12g is ample
        # for the test scale factors. On a real cluster size executor memory
        # to the partition budget instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC.

    Called at the top of every registered query so results are identical no
    matter which session the driver hands us (timestamps in the test parquet
    are UTC instants; DuckDB treats them as naive UTC). Also pins the
    parquet NTZ-inference flag so tz-less timestamps scan as TIMESTAMP even
    in a driver-owned session, for reads that infer their schema
    (load_table reads its footer schema and does not depend on it).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark


#: What each session's current query persisted. Weak keys, so that the new
#: session wrapper a foreachBatch handler gets per batch is not kept alive;
#: the values are JVM handles, since a frame would hold its session.
_QUERY_CACHES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def query_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` until its session's next query starts: for a frame
    that the query's lazy result reads more than once, which the query
    cannot release, since the caller executes the result after it returns."""
    df = df.persist()
    _QUERY_CACHES.setdefault(df.sparkSession, []).append(df._jdf)
    return df


def release_query_caches(spark: SparkSession) -> None:
    """Unpersist what :func:`query_cache` recorded under ``spark``. An error
    comes from a frame whose session has stopped, and its cache entry died
    with that session, so it is dropped."""
    for handle in _QUERY_CACHES.pop(spark, []):
        try:
            handle.unpersist(False)
        except Exception:  # noqa: BLE001
            pass
