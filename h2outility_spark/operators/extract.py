"""Filtered extraction — the predicate of the reference's
``get_values_by_filters`` (SURVEY.md §2.2: P2–P5; reference
``series_service.py:387-454``).

Everything here is a pure declarative predicate build: Catalyst pushes the
conjunction down to the parquet scan (check ``PushedFilters`` in
``.explain("formatted")``), so at 100 TB only matching row groups are read.
This replaces the reference's hand-embedded SQL WHERE clauses.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Column, functions as F


def build_predicate(
    site_id=None,
    qc_id=None,
    source_id=None,
    variable_codes: Sequence | None = None,
    method_ids: Sequence | None = None,
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> Column:
    """Conjunctive predicate with IN-lists and date bounds (P2–P5).

    Mirrors ``series_service.py:400-430``: equality on site/qc/source,
    IN-lists for variables/methods, and BETWEEN for a year window.
    """
    pred = F.lit(True)
    if site_id is not None:
        pred = pred & (F.col("SiteID") == F.lit(site_id))
    if qc_id is not None:
        pred = pred & (F.col("QualityControlLevelID") == F.lit(qc_id))
    if source_id is not None:
        pred = pred & (F.col("SourceID") == F.lit(source_id))
    if variable_codes:
        pred = pred & F.col("VariableCode").isin(list(variable_codes))
    if method_ids:
        pred = pred & F.col("MethodID").isin(list(method_ids))
    if start is not None and end is not None:
        pred = pred & F.col("LocalDateTime").between(F.lit(start), F.lit(end))
    elif start is not None:
        pred = pred & (F.col("LocalDateTime") >= F.lit(start))
    elif end is not None:
        pred = pred & (F.col("LocalDateTime") <= F.lit(end))
    return pred
