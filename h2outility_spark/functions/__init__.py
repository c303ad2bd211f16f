"""Scalar function surface (SURVEY.md §2.11, F1–F10).

All built-in Catalyst expressions — JVM-side, inside whole-stage codegen.
No Python UDFs here: everything the reference computed row-wise in Python
(season) lowers to built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def season(ts: Column) -> Column:
    """Season derivation (W11/F10): months 1-3 → 1 … 10-12 → 4.

    The reference computes this with a row-wise ``df.apply``
    (``series_service.py:597-629`` in /root/reference); the boundaries
    coincide exactly with calendar quarters, so it is ``F.quarter``.
    """
    return F.quarter(ts)
