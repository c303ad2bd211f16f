"""The scan boundary reads each table's schema from its parquet footer
(sources.parquet.footer_schema) instead of running Spark's schema-inference
job: no Spark job per table load, the same schema and rows as an inferred
read, no session conf touched, and nanosecond timestamps truncated the way
DuckDB truncates them."""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from h2outility_spark.sources.parquet import TABLES, load_table, read_parquet
from tests.conftest import SF_DIR

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs_of(spark, build):
    """(build(), number of Spark jobs ``build`` ran), counted by job group."""
    sc = spark.sparkContext
    group = f"footer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "footer schema test")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # Job starts reach the status store through the listener bus; drain it
    # so a job the build ran cannot be missed.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_load_table_runs_no_job_and_matches_inferred_read(spark):
    for name in TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        df, n_jobs = _jobs_of(spark, lambda: load_table(spark, SF_DIR, name))
        inferred, n_inferred = _jobs_of(spark, lambda: spark.read.parquet(path))
        assert n_jobs == 0, f"{name}: load_table ran {n_jobs} Spark jobs"
        # Control: the job count really sees the inference job.
        assert n_inferred >= 1, name
        assert df.schema == inferred.schema, name
        assert _rows(df) == _rows(inferred), name


NANOS = [
    1_700_000_000_123_456_789,
    1_700_000_000_000_000_999,
    0,
    -1_000_001,
    -123_456_789_012_345_678,
    None,
]


def _write_nanos(tmp_path) -> str:
    table = pa.table(
        {
            "id": pa.array(range(len(NANOS)), pa.int64()),
            "ts": pa.array(NANOS, pa.timestamp("ns")),
        }
    )
    pq.write_table(table, os.path.join(tmp_path, "events.parquet"))
    return str(tmp_path)


def test_nanos_timestamps_truncate_like_duckdb(spark, tmp_path):
    sf_dir = _write_nanos(tmp_path)
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = [tuple(r) for r in df.select("id", F.unix_micros("ts")).orderBy("id").collect()]
    want = duckdb.connect().execute(
        f"SELECT id, epoch_us(ts) FROM '{sf_dir}/events.parquet' ORDER BY id"
    ).fetchall()
    assert got == want
    # DIV 1000 truncates toward zero, sub-microsecond digits dropped.
    assert got[3] == (3, -1000)


@pytest.mark.parametrize("nanos_as_long,infer_ntz", [("false", "false"), ("false", "true"), ("true", "true")])
def test_load_table_leaves_session_conf_alone(spark, tmp_path, nanos_as_long, infer_ntz):
    sf_dir = _write_nanos(tmp_path)
    before = {NANOS_CONF: spark.conf.get(NANOS_CONF), NTZ_CONF: spark.conf.get(NTZ_CONF)}
    spark.conf.set(NANOS_CONF, nanos_as_long)
    spark.conf.set(NTZ_CONF, infer_ntz)
    try:
        load_table(spark, sf_dir, "events").collect()
        load_table(spark, SF_DIR, "orders").limit(1).collect()
        assert spark.conf.get(NANOS_CONF) == nanos_as_long
        assert spark.conf.get(NTZ_CONF) == infer_ntz
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_rewritten_file_schema_is_reread(spark, tmp_path):
    path = os.path.join(tmp_path, "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    first = load_table(spark, str(tmp_path), "t")
    assert first.schema.simpleString() == "struct<a:bigint>"
    assert sorted(r.a for r in first.collect()) == [1, 2]

    pq.write_table(
        pa.table({"a": pa.array(["x", "y", "z"]), "b": pa.array([0.5, 1.5, 2.5])}), path
    )
    second = load_table(spark, str(tmp_path), "t")
    assert second.schema.simpleString() == "struct<a:string,b:double>"
    assert sorted(tuple(r) for r in second.collect()) == [("x", 0.5), ("y", 1.5), ("z", 2.5)]


def test_read_partitioned_keeps_partition_column_types(spark, tmp_path):
    path = os.path.join(tmp_path, "events_by_type")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "value", "event_type")
    ev.withColumn("year", F.year("ts")).write.partitionBy("event_type", "year").parquet(path)
    back, n_jobs = _jobs_of(spark, lambda: read_parquet(spark, path))
    inferred = spark.read.parquet(path)
    assert n_jobs == 0
    assert back.schema == inferred.schema
    assert back.schema["year"].dataType.typeName() == "integer"
    assert back.schema["event_type"].dataType.typeName() == "string"
    assert _rows(back) == _rows(inferred)


def test_directory_without_parquet_raises_like_spark(spark, tmp_path):
    from pyspark.errors import AnalysisException

    os.makedirs(os.path.join(tmp_path, "empty.parquet", "_temporary"))
    with pytest.raises(AnalysisException, match="(?i)infer"):
        load_table(spark, str(tmp_path), "empty")
