"""Simulate the driver's verify pass against __spark_entry__.py.

Usage: python scripts/driver_sim.py [sf_dir [query ...]]

Mirrors the documented driver behavior:
  * builds its OWN SparkSession (local[8], 200 shuffle partitions, and
    deliberately a non-UTC timezone, to prove the queries pin their own
    session state),
  * smoke-checks entry(spark),
  * runs every queries()[name] at sf_dir (default sf0.01) — or only the
    named queries, the fast gate for a change that touches a few — and
    compares to oracle_sql()[name] via DuckDB: row count, sorted column
    names, and an order-insensitive value hash of the rows as
    ``oracle_compare.normalize_rows`` renders them. A MISMATCH also
    prints the first three differing normalized rows,
  * prints ``cache_left=N`` per query: the persistent RDDs the session
    still holds after the collect, with their peak and final value on the
    closing line.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as mod
from h2outility_spark.oracle_compare import normalize_rows
from h2outility_spark.sources.parquet import TABLES


def value_hash(norm: list[tuple[str, ...]]) -> str:
    """Hash of normalized rows: each joined with \\x1f, re-sorted as strings."""
    joined = sorted("\x1f".join(r) for r in norm)
    return hashlib.sha256("\x1e".join(joined).encode()).hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.session.timeZone", "America/Denver")  # hostile tz on purpose
        .config("spark.sql.shuffle.partitions", "200")  # corpus-scale default, on purpose
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
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"not registered queries: {unknown}")
    if names:
        queries = {n: queries[n] for n in names}
    bad = []
    left = []
    for name, fn in queries.items():
        t0 = time.perf_counter()
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        elapsed = time.perf_counter() - t0
        left.append(spark.sparkContext._jsc.getPersistentRDDs().size())
        if name not in oracles:
            print(f"  {name:28s} rows-only: {len(s_rows)} rows cache_left={left[-1]}  ({elapsed:.1f}s)")
            continue
        cur = con.execute(oracles[name])
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
        s_norm, d_norm = normalize_rows(s_rows, s_cols)[1], normalize_rows(d_rows, d_cols)[1]
        sh, sn = value_hash(s_norm), len(s_rows)
        dh, dn = value_hash(d_norm), len(d_rows)
        ok = sh == dh and sn == dn and sorted(s_cols) == sorted(d_cols)
        print(f"  {name:28s} {'MATCH' if ok else 'MISMATCH'} rows={sn}/{dn} hash={sh}/{dh} cache_left={left[-1]}  ({elapsed:.1f}s)")
        if not ok:
            bad.append(name)
            for a, b in [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:3]:
                print(f"    spark={a}\n    duck ={b}")
    if bad:
        print("MISMATCHED:", bad)
        sys.exit(1)
    print(f"ALL MATCH {len(queries)}/{len(queries)}  cache_left peak={max(left)} final={left[-1]}")


if __name__ == "__main__":
    main()
