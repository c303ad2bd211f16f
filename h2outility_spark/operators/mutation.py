"""Mutation / upsert surface (SURVEY.md §2.7 U1–U5 and §2.9 M1; reference
``edit_service.py:258-277``, ``series_service.py:673-691``).

The reference mutates rows in an RDBMS under transactions. On an immutable
columnar store the same semantics are pure transforms + an overwrite
discipline:

  * insert  = unionByName
  * delete  = anti filter / left_anti join
  * upsert  = union new + dropDuplicates on the logical key, newest wins
  * rollback = keep the source DataFrame (transforms are immutable)

At scale the write side is partition overwrite (dynamic partition
overwrite on the series-key/date layout) or a MERGE under Delta/Iceberg —
those jars aren't in this container, so the parquet overwrite discipline is
the tested path and `merge_into` is expressed as the equivalent
anti-join + union (the CDC/SCD pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def add_points(dv: DataFrame, new_points: DataFrame) -> DataFrame:
    """U1 (edit_service.py:258-263): INSERT == union."""
    return dv.unionByName(new_points, allowMissingColumns=True)


def drop_logical_duplicates(dv: DataFrame) -> DataFrame:
    """U5: a uniqueness constraint (edit_service.py:507) enforced at write
    time — one row per ``event_id``."""
    return dv.dropDuplicates(["event_id"])


def upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """M1/M2 merge semantics without a transactional store: rows from
    ``updates`` replace target rows with the same key; unmatched rows are
    appended.

    Implemented as anti-join + union — both sides shuffle once on ``keys``.
    ``updates`` carries one version per key.
    """
    kept = target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
    return kept.unionByName(updates, allowMissingColumns=True)
