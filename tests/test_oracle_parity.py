"""Local mirror of the driver's correctness gate: run every registered query
in Spark AND its DuckDB oracle on the same parquet, compare row count, column
names, and order-insensitive values.

This is the test that matters most — if it is green here at sf0.001/sf0.01,
CORRECTNESS_r{N}.json should be green too.
"""

from __future__ import annotations

import duckdb
import pytest

from h2outility_spark import workload
from h2outility_spark.sources.parquet import TABLES

from tests.conftest import SF_DIR, SF_DIR_MED


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


from h2outility_spark.oracle_compare import normalize_rows as _normalize


SPECS = [(name, spec) for name, spec in workload.registry().items() if spec.oracle]


def _assert_parity(spark, name: str, sf_dir: str) -> None:
    spec = workload.registry()[name]
    sdf = spec.fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    cur = con.execute(spec.oracle)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"

    _, s_norm = _normalize(spark_rows, spark_cols)
    _, d_norm = _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


@pytest.mark.parametrize("name", [n for n, _ in SPECS])
def test_query_matches_oracle(spark, name):
    _assert_parity(spark, name, SF_DIR)


@pytest.mark.slow
@pytest.mark.parametrize("name", [n for n, _ in SPECS])
def test_query_matches_oracle_at_driver_sf(spark, name):
    """Every registered query also earns its parity evidence at the
    driver's own scale factor (sf0.01), so 'green locally' and 'green at
    the gate' mean the same data volume for every registered query."""
    _assert_parity(spark, name, SF_DIR_MED)
