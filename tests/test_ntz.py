"""Regression for the PySpark ≥4 TIMESTAMP_NTZ inference change.

The test parquet stores timestamps as timestamp[us] WITHOUT timezone
metadata; Spark 4 reads those as TIMESTAMP_NTZ by default, which breaks
``unix_micros`` (and every operator built on it) at analysis time. The scan
boundary (sources/parquet.load_table) must normalize to TIMESTAMP no matter
how the session is configured — the driver hands us its own session.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from h2outility_spark import workload
from h2outility_spark.sources.parquet import load_table

from tests.conftest import SF_DIR


def _write_events_like(tmpdir: str, tz: str | None) -> str:
    ts_type = pa.timestamp("us", tz=tz)
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000 + i * 60_000_000 for i in range(3)], ts_type),
            "user_id": pa.array([1, 1, 2], pa.int64()),
        }
    )
    path = os.path.join(tmpdir, f"events.parquet")
    pq.write_table(table, path)
    return tmpdir


@pytest.mark.parametrize("tz", [None, "UTC"])
def test_load_table_normalizes_to_timestamp(spark, tmp_path, tz):
    sf_dir = _write_events_like(str(tmp_path), tz)
    df = load_table(spark, sf_dir, "events")
    (ts_field,) = [f for f in df.schema.fields if f.name == "ts"]
    assert isinstance(ts_field.dataType, TimestampType), ts_field.dataType
    # unix_micros must analyze AND the instants must be the raw micros
    # (session tz pinned UTC → naive values are the UTC instants).
    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("ts").collect()]
    assert got == [1_700_000_000_000_000 + i * 60_000_000 for i in range(3)]


def test_load_table_casts_even_when_session_infers_ntz(spark, tmp_path):
    """Simulate a driver-owned session that left NTZ inference on: the
    footer schema load_table reads with must still yield TIMESTAMP and the
    raw micros."""
    sf_dir = _write_events_like(str(tmp_path), None)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        (raw_ts,) = [f for f in raw.schema.fields if f.name == "ts"]
        # Precondition: with the conf on, the bare read really is NTZ —
        # otherwise this test isn't exercising the NTZ path.
        assert isinstance(raw_ts.dataType, TimestampNTZType), raw_ts.dataType

        df = load_table(spark, sf_dir, "events")
        (ts_field,) = [f for f in df.schema.fields if f.name == "ts"]
        assert isinstance(ts_field.dataType, TimestampType), ts_field.dataType
        got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("ts").collect()]
        assert got == [1_700_000_000_000_000 + i * 60_000_000 for i in range(3)]
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


@pytest.mark.slow
def test_every_registered_query_analyzes(spark):
    """Cheap analysis-only sweep over the full registry: .schema forces
    analysis (where the r02 NTZ failures surfaced) without executing."""
    failures = {}
    for name, spec in workload.registry().items():
        try:
            _ = spec.fn(spark, SF_DIR).schema
        except Exception as e:  # noqa: BLE001
            failures[name] = str(e).splitlines()[0][:200]
    assert not failures, failures
