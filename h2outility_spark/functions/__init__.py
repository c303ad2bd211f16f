"""Scalar function surface (SURVEY.md §2.11, F1–F10).

All built-in Catalyst expressions — JVM-side, inside whole-stage codegen.
No Python UDFs here: everything the reference computed row-wise in Python
(season) lowers to built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def fround(col, n: int = 2):
    """Round-half-up via floor(x*10^n + 0.5)/10^n.

    Spark's ``round`` goes through BigDecimal (decimal-string HALF_UP) while
    DuckDB's rounds the raw binary double — they disagree on decimal halves
    (e.g. avg of two 2-dp values). This formula is plain IEEE arithmetic, so
    mirroring it verbatim in the oracle SQL (``workload.sql_round``) gives
    bit-identical results on identical inputs. The operators use it too:
    this module is a leaf, so they never import the query registry.
    """
    factor = float(10**n)
    return F.floor(col * F.lit(factor) + F.lit(0.5)) / F.lit(factor)


def season(ts: Column) -> Column:
    """Season derivation (W11/F10): months 1-3 → 1 … 10-12 → 4.

    The reference computes this with a row-wise ``df.apply``
    (``series_service.py:597-629`` in /root/reference); the boundaries
    coincide exactly with calendar quarters, so it is ``F.quarter``.
    """
    return F.quarter(ts)
