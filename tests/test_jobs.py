"""End-to-end test of the headless export pipeline (SURVEY.md §3.1):
managed-resource spec → chunk plan → extract → pivot → fill → annotated CSV.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from h2outility_spark import jobs
from h2outility_spark.schema import events_as_datavalues
from h2outility_spark.sources.parquet import load_table
from tests.conftest import SF_DIR


def _dv(spark):
    return events_as_datavalues(load_table(spark, SF_DIR, "events"))


def test_run_export_single_site(spark, tmp_path):
    dv = _dv(spark)
    resource = jobs.ManagedResource(name="site13-qc0", site_id=13, qc_id=0, single_file=True)
    files = jobs.run_export(dv, resource, str(tmp_path))
    assert len(files) == 1
    lines = open(files[0]).read().splitlines()
    header = [ln for ln in lines if ln.startswith("#")]
    data = [ln for ln in lines if not ln.startswith("#")]
    assert any("SiteID=13" in ln for ln in header)
    assert any("NoDataValue=-9999" in ln for ln in header)
    # column row + >=1 data rows; sentinel fill applied
    assert len(data) >= 2
    assert "-9999" in "".join(data[1:])
    # row count matches the distinct timestamps of that site's QC-0 values
    expected = (
        dv.filter((F.col("SiteID") == 13) & (F.col("QualityControlLevelID") == 0))
        .select("LocalDateTime", "UTCOffset", "DateTimeUTC")
        .distinct()
        .count()
    )
    assert len(data) - 1 == expected


def test_run_export_per_series_files(spark, tmp_path):
    dv = _dv(spark)
    resource = jobs.ManagedResource(
        name="site13-per-series", site_id=13, qc_id=0, single_file=False
    )
    files = jobs.run_export(dv, resource, str(tmp_path))
    assert len(files) > 1  # one file per (variable, method) series
    assert all(os.path.exists(f) for f in files)


def test_chunk_by_year_plan(spark):
    dv = _dv(spark)
    from h2outility_spark.operators.catalog import derive_catalog

    keys = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]
    rows = derive_catalog(dv, keys=keys).filter(F.col("SiteID") == 13).collect()
    resource = jobs.ManagedResource(name="x", site_id=13, chunk_by_year=True)
    chunks = jobs.plan_chunks(rows, resource)
    assert all(c.year is not None for c in chunks)
    # test data spans one calendar year
    assert {c.year for c in chunks} == {2024}


def test_resource_spec_roundtrip(tmp_path):
    path = str(tmp_path / "resources.json")
    spec = [jobs.ManagedResource(name="r1", site_id=1, chunk_by_year=True).to_dict()]
    with open(path, "w") as f:
        json.dump(spec, f)
    loaded = jobs.ManagedResource.from_json(path)
    assert loaded[0].name == "r1" and loaded[0].chunk_by_year is True


def test_year_chunks_keep_the_last_fractional_second(spark, tmp_path):
    """A row in the last fractional second of a year belongs to that year's
    chunk: the year window must cover 23:59:59.999999, not stop at 23:59:59."""
    dv = spark.sql(
        """
        SELECT CAST(ts AS TIMESTAMP) AS LocalDateTime,
               -7.0D AS UTCOffset,
               CAST(ts AS TIMESTAMP) + INTERVAL 7 HOURS AS DateTimeUTC,
               1 AS SiteID, 'temp' AS VariableCode, 1 AS MethodID, 1 AS SourceID,
               0 AS QualityControlLevelID, v AS DataValue
        FROM VALUES ('2020-06-01 00:00:00', 1.0D),
                    ('2020-12-31 23:59:59.5', 2.0D),
                    ('2021-01-01 00:00:00.25', 3.0D) AS t(ts, v)
        """
    )
    resource = jobs.ManagedResource(name="by-year", site_id=1, chunk_by_year=True)
    files = jobs.run_export(dv, resource, str(tmp_path))
    assert len(files) == 2  # one per year
    data = [ln for f in files for ln in open(f).read().splitlines() if not ln.startswith("#")]
    assert len(data) - len(files) == 3  # minus each file's column row


def test_per_series_export_writes_one_file_per_series(spark, tmp_path):
    """One variable measured by two methods is two series and two files: the
    file name carries <VariableCode>-<MethodID>, so the second series cannot
    overwrite the first."""
    dv = _dv(spark)
    resource = jobs.ManagedResource(name="site13-per-series", site_id=13, qc_id=0, single_file=False)
    files = jobs.run_export(dv, resource, str(tmp_path))
    site = dv.filter((F.col("SiteID") == 13) & (F.col("QualityControlLevelID") == 0))
    n_series = site.select("VariableCode", "MethodID").distinct().count()
    assert n_series > site.select("VariableCode").distinct().count()  # some variable has two methods
    assert len(files) == n_series
    assert len(set(files)) == n_series
    assert sorted(os.listdir(tmp_path)) == sorted(os.path.basename(f) for f in files)


def test_variable_code_cannot_leave_out_dir(spark, tmp_path):
    """A free-text VariableCode is one percent-encoded part of the file name:
    '../x' neither adds a directory nor escapes out_dir."""
    dv = spark.sql(
        """
        SELECT CAST('2020-06-01 00:00:00' AS TIMESTAMP) AS LocalDateTime,
               -7.0D AS UTCOffset,
               CAST('2020-06-01 07:00:00' AS TIMESTAMP) AS DateTimeUTC,
               1 AS SiteID, '../x' AS VariableCode, 1 AS MethodID, 1 AS SourceID,
               0 AS QualityControlLevelID, 1.0D AS DataValue
        """
    )
    out_dir = tmp_path / "out"
    resource = jobs.ManagedResource(name="escape", site_id=1, single_file=False)
    files = jobs.run_export(dv, resource, str(out_dir))
    assert len(files) == 1
    assert os.path.dirname(os.path.realpath(files[0])) == os.path.realpath(out_dir)
    assert os.listdir(tmp_path) == ["out"]
    assert os.listdir(out_dir) == [os.path.basename(files[0])]
