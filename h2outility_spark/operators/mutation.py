"""Mutation / upsert surface (SURVEY.md §2.7 U1–U5 and §2.9 M1–M5;
reference ``edit_service.py:258-277``, ``series_service.py:673-983``).

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


def delete_selected(df: DataFrame, sel: str = "selected") -> DataFrame:
    """U2 (edit_service.py:265-277): DELETE WHERE selected."""
    return df.filter(~F.coalesce(F.col(sel), F.lit(False)))


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


def create_dim_entry(
    dim: DataFrame,
    values: dict,
    id_col: str,
    code_col: str | None = None,
) -> tuple[DataFrame, int]:
    """M4 (series_service.py:777-877 ``create_method/variable/qcl/
    qualifier``): append one dimension row, allocating ``id = max(id) + 1``,
    unless a row with the same ``code_col`` already exists (then return the
    existing id unchanged — the reference's get-or-create shape).

    Dims are tiny by definition (always-broadcast side), so the max-id agg
    and exists probe are metadata-cheap; returns (new_dim, assigned_id).
    """
    spark = dim.sparkSession
    if code_col is not None and values.get(code_col) is not None:
        hit = dim.filter(F.col(code_col) == F.lit(values[code_col])).select(id_col).limit(1).collect()
        if hit:
            return dim, hit[0][0]
    max_id = dim.agg(F.max(id_col).alias("m")).collect()[0]["m"]
    new_id = int(max_id) + 1 if max_id is not None else 1
    row = {**values, id_col: new_id}
    new_row = spark.createDataFrame([tuple(row.get(c.name) for c in dim.schema)], dim.schema)
    return dim.unionByName(new_row), new_id


def create_method(methods: DataFrame, description: str, link: str | None = None) -> tuple[DataFrame, int]:
    """series_service.py:777-797."""
    return create_dim_entry(
        methods, {"MethodDescription": description, "MethodLink": link}, "MethodID", "MethodDescription"
    )


def create_variable(variables: DataFrame, values: dict) -> tuple[DataFrame, int]:
    """series_service.py:799-836; ``values`` carries the ODM variable
    attributes (Code, Name, units, NoDataValue, ...)."""
    return create_dim_entry(variables, values, "VariableID", "VariableCode")


def create_qualifier(qualifiers: DataFrame, code: str, description: str) -> tuple[DataFrame, int]:
    """series_service.py:858-877."""
    return create_dim_entry(
        qualifiers, {"QualifierCode": code, "QualifierDescription": description}, "QualifierID", "QualifierCode"
    )


def create_quality_control_level(qcls: DataFrame, code: str, definition: str, explanation: str | None = None) -> tuple[DataFrame, int]:
    """series_service.py:838-856."""
    return create_dim_entry(
        qcls,
        {"QualityControlLevelCode": code, "Definition": definition, "Explanation": explanation},
        "QualityControlLevelID",
        "QualityControlLevelCode",
    )


def series_exists(catalog: DataFrame, quintuple: dict) -> bool:
    """M2 exists-check (series_service.py:948-983) against the derived
    catalog — a filter on a frame with one row per series, not a fact scan."""
    pred = F.lit(True)
    for k, v in quintuple.items():
        pred = pred & (F.col(k) == F.lit(v))
    return catalog.filter(pred).limit(1).count() > 0
