"""Skew-mitigation utilities for hot keys at 100 TB.

AQE's skew-join handling (on in session.py) covers sort-merge joins; the
salted two-phase aggregation here covers the case it does not: a groupBy
on a key where one value holds a large share of all rows (one sensor, one
boilerplate document cluster) puts that key's entire volume through a
single reducer. Salting splits each key into 16 partial groups
(map-side random-ish salt from a hash of a row id), aggregates partials,
then re-aggregates without the salt. Works for any algebraic aggregate
(sum/count/min/max); averages must be carried as (sum, count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, salt_source: Column) -> DataFrame:
    """Deterministic salt in [0, 16) from a hash of ``salt_source``
    (a unique-ish column — deterministic so retries/regeneration are
    stable, unlike rand())."""
    return df.withColumn("__salt", F.pmod(F.hash(salt_source), F.lit(16)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple],
    salt_source: Column,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output name → (op, column) with op in {sum, count, min,
    max}. Phase 1 groups by (keys + salt); phase 2 merges partials: count
    partials merge by sum, the rest by their own op.
    """
    phase1_ops = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    merge_ops = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    salted = with_salt(df, salt_source)
    p1 = salted.groupBy(*keys, "__salt").agg(
        *[phase1_ops[op](col).alias(name) for name, (op, col) in aggs.items()]
    )
    return p1.groupBy(*keys).agg(
        *[merge_ops[op](name).alias(name) for name, (op, _) in aggs.items()]
    )
