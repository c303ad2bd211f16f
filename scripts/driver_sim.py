"""Simulate the driver's verify pass against __spark_entry__.py.

Usage: python scripts/driver_sim.py [sf_dir]

Mirrors the documented driver behavior:
  * builds its OWN SparkSession (deliberately with a non-UTC timezone, to
    prove the queries pin their own session state),
  * smoke-checks entry(spark) at sf0.001,
  * runs every queries()[name] at sf_dir (default sf0.01) and compares to
    oracle_sql()[name] via DuckDB: row count, sorted column names, and an
    order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as mod
from h2outility_spark.sources.parquet import TABLES


def value_hash(rows, columns) -> tuple[str, int]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.9g}")
            else:
                vals.append(str(v))
        norm.append("\x1f".join(vals))
    norm.sort()
    h = hashlib.sha256("\x1e".join(norm).encode()).hexdigest()[:16]
    return h, len(rows)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.session.timeZone", "America/Denver")  # hostile tz on purpose
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Environment pinning (r02 postmortem: PySpark 4 changed parquet
    # timestamp inference and the first diagnostic was a wall of red query
    # rows). Fail FAST with a named hint on any future type-inference drift.
    import pyspark
    from pyspark.sql.types import TimestampType

    print(f"pyspark {pyspark.__version__}, python {sys.version.split()[0]}")
    from h2outility_spark.session import ensure_utc
    from h2outility_spark.sources.parquet import load_table

    ensure_utc(spark)
    ts_field = [f for f in load_table(spark, sf_dir, "events").schema.fields if f.name == "ts"][0]
    assert isinstance(ts_field.dataType, TimestampType), (
        f"events.ts resolved to {ts_field.dataType} after ensure_utc — parquet timestamp "
        "type mapping drifted again (see the footer reader sources/parquet.footer_schema, "
        "which maps every non-nanosecond parquet timestamp to TIMESTAMP); every "
        "unix_micros-based operator will fail analysis until the scan boundary normalizes this"
    )

    df = mod.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema: {[f.name for f in df.schema.fields]}")
    assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    bad = []
    for name, fn in queries.items():
        t0 = time.perf_counter()
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        elapsed = time.perf_counter() - t0
        if name not in oracles:
            print(f"  {name:28s} rows-only: {len(s_rows)} rows  ({elapsed:.1f}s)")
            continue
        cur = con.execute(oracles[name])
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
        sh, sn = value_hash(s_rows, s_cols)
        dh, dn = value_hash(d_rows, d_cols)
        ok = sh == dh and sn == dn and sorted(s_cols) == sorted(d_cols)
        print(f"  {name:28s} {'MATCH' if ok else 'MISMATCH'} rows={sn}/{dn} hash={sh}/{dh}  ({elapsed:.1f}s)")
        if not ok:
            bad.append(name)
    if bad:
        print("MISMATCHED:", bad)
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
