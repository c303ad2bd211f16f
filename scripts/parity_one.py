"""Check one (or a few) registered queries against their DuckDB oracles —
the single-query form of driver_sim, for fast iteration while writing a
new query.

Usage:
    python scripts/parity_one.py QUERY [QUERY...] [--sf /root/testdata/sf0.01]

Prints OK/MISMATCH per query; on mismatch shows column sets and the first
differing normalized rows.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from h2outility_spark.sources.parquet import TABLES


from h2outility_spark.oracle_compare import normalize_rows


def _normalize(rows, cols):
    return normalize_rows(rows, cols)[1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from h2outility_spark import workload
    from h2outility_spark.session import get_spark

    spark = get_spark("parity-one", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    reg = workload.registry()

    rc = 0
    for name in args.names:
        if name not in reg:
            print(f"{name}: UNKNOWN (not registered)")
            rc = 2
            continue
        spec = reg[name]
        if spec.oracle is None:
            print(f"{name}: NO ORACLE (rows-only query)")
            continue
        sdf = spec.fn(spark, args.sf)
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
        cur = con.execute(spec.oracle)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        ok_cols = sorted(scols) == sorted(dcols)
        sn, dn = _normalize(srows, scols), _normalize(drows, dcols)
        if ok_cols and sn == dn:
            print(f"{name}: OK rows={len(srows)}")
            continue
        rc = 1
        print(f"{name}: MISMATCH rows={len(srows)}/{len(drows)}")
        if not ok_cols:
            print(f"  cols spark={sorted(scols)} duck={sorted(dcols)}")
        for a, b in [(a, b) for a, b in zip(sn, dn) if a != b][:3]:
            print(f"  spark={a}\n  duck ={b}")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
