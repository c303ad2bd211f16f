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

from pyspark.sql import DataFrame, Window as W, functions as F

from h2outility_spark.schema import DV_UNIQUE_KEYS


def add_points(dv: DataFrame, new_points: DataFrame) -> DataFrame:
    """U1 (edit_service.py:258-263): INSERT == union."""
    return dv.unionByName(new_points, allowMissingColumns=True)


def drop_logical_duplicates(dv: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """U5: the UNIQUE(DataValue, LocalDateTime, 5 series keys) constraint
    (edit_service.py:507) enforced at write time."""
    keys = keys or [k for k in DV_UNIQUE_KEYS if k in dv.columns]
    return dv.dropDuplicates(keys)


def upsert(target: DataFrame, updates: DataFrame, keys: list[str], order_col: str | None = None) -> DataFrame:
    """M1/M2 merge semantics without a transactional store: rows from
    ``updates`` replace target rows with the same key; unmatched rows are
    appended.

    Implemented as anti-join + union — both sides shuffle once on ``keys``.
    When ``order_col`` is given, a newest-wins window dedup is used instead
    (needed when ``updates`` itself may carry multiple versions of a key).
    """
    if order_col is None:
        kept = target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
        return kept.unionByName(updates, allowMissingColumns=True)
    tagged = target.withColumn("__v", F.lit(0)).unionByName(
        updates.withColumn("__v", F.lit(1)), allowMissingColumns=True
    )
    w = W.partitionBy(*keys).orderBy(F.col("__v").desc(), F.col(order_col).desc())
    return tagged.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__v", "__rn")
