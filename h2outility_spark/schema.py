"""Explicit schemas (SURVEY.md §1) and the mapping from the driver's test
tables onto the ODM 1.1.1 data model.

The reference declares its schema statically via SQLAlchemy Column
declarations (``src/GAMUTRawData/odmdata/data_value.py:37-57`` in
/root/reference); we declare StructTypes once here and never infer.

Only five primitive types appear in the reference's model (int, float,
string, datetime, bool — SURVEY.md §1.2). The extension surface adds
``array<float>`` (embeddings) and JSON props.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

# --- ODM 1.1.1 core fact table (data_value.py:37-57; DDL mirror
# edit_service.py:486-508) ---------------------------------------------------
DATAVALUES_SCHEMA = T.StructType(
    [
        T.StructField("ValueID", T.LongType(), False),
        T.StructField("DataValue", T.DoubleType(), False),
        T.StructField("ValueAccuracy", T.DoubleType(), True),
        T.StructField("LocalDateTime", T.TimestampType(), False),
        T.StructField("UTCOffset", T.DoubleType(), False),
        T.StructField("DateTimeUTC", T.TimestampType(), False),
        T.StructField("SiteID", T.IntegerType(), False),
        T.StructField("VariableID", T.IntegerType(), False),
        T.StructField("OffsetValue", T.DoubleType(), True),
        T.StructField("OffsetTypeID", T.IntegerType(), True),
        T.StructField("CensorCode", T.StringType(), False),
        T.StructField("QualifierID", T.IntegerType(), True),
        T.StructField("MethodID", T.IntegerType(), False),
        T.StructField("SourceID", T.IntegerType(), False),
        T.StructField("SampleID", T.IntegerType(), True),
        T.StructField("DerivedFromID", T.LongType(), True),
        T.StructField("QualityControlLevelID", T.IntegerType(), False),
    ]
)

# Series identity: the quintuple (series.py:83-91). Every QC/window operator
# partitions by these keys, never by time (SURVEY.md §7.4 item 2).
SERIES_KEYS = ["SiteID", "VariableID", "MethodID", "SourceID", "QualityControlLevelID"]

VARIABLES_SCHEMA = T.StructType(
    [
        T.StructField("VariableID", T.IntegerType(), False),
        T.StructField("VariableCode", T.StringType(), False),
        T.StructField("VariableName", T.StringType(), False),
        T.StructField("Speciation", T.StringType(), True),
        T.StructField("VariableUnitsID", T.IntegerType(), True),
        T.StructField("SampleMedium", T.StringType(), True),
        T.StructField("ValueType", T.StringType(), True),
        T.StructField("IsRegular", T.BooleanType(), True),
        T.StructField("TimeSupport", T.DoubleType(), True),
        T.StructField("TimeUnitsID", T.IntegerType(), True),
        T.StructField("DataType", T.StringType(), True),
        T.StructField("GeneralCategory", T.StringType(), True),
        T.StructField("NoDataValue", T.DoubleType(), False),
    ]
)

SITES_SCHEMA = T.StructType(
    [
        T.StructField("SiteID", T.IntegerType(), False),
        T.StructField("SiteCode", T.StringType(), False),
        T.StructField("SiteName", T.StringType(), False),
        T.StructField("Latitude", T.DoubleType(), True),
        T.StructField("Longitude", T.DoubleType(), True),
        T.StructField("State", T.StringType(), True),
        T.StructField("County", T.StringType(), True),
        T.StructField("SiteType", T.StringType(), True),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)

EVENT_PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType(), True)])

# Sentinel used when exporting: the reference substitutes a per-variable
# NoDataValue for NULL at the sink only (variable.py:23;
# DatasetUtilities.py:171-181). Internally we always keep NULL, or QC math
# would silently operate on -9999 (SURVEY.md §7.4 item 5).
DEFAULT_NO_DATA_VALUE = -9999.0


def events_as_datavalues(events: DataFrame) -> DataFrame:
    """Map the driver's ``events`` table onto the DataValues shape
    (FIXTURES.md "driver-testdata mapping").

    user_id→SiteID, event_type→VariableCode, ts→LocalDateTime,
    value→DataValue. MethodID / QualityControlLevelID are derived
    deterministically from the JSON ``props.k`` so the fixture exercises
    multi-method pivot disambiguation and QC-level query shapes; the same
    derivation is reproducible in ANSI SQL for the oracle.
    """
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select(
        F.col("event_id").alias("ValueID"),
        F.col("value").alias("DataValue"),
        F.col("ts").alias("LocalDateTime"),
        F.lit(-7.0).alias("UTCOffset"),
        (F.col("ts") + F.expr("INTERVAL 7 HOURS")).alias("DateTimeUTC"),
        F.col("user_id").alias("SiteID"),
        F.col("event_type").alias("VariableCode"),
        (k % 2 + 1).alias("MethodID"),
        F.lit(1).alias("SourceID"),
        F.when(k % 10 < 8, 0).otherwise(1).alias("QualityControlLevelID"),
        F.when(k % 7 == 0, k % 3 + 1).alias("QualifierID"),
        F.lit("nc").alias("CensorCode"),
    )


# The same derivation as ANSI SQL (kept adjacent so the two can't drift).
EVENTS_AS_DATAVALUES_SQL = """
    SELECT event_id AS ValueID,
           value AS DataValue,
           ts AS LocalDateTime,
           CAST(-7.0 AS DOUBLE) AS UTCOffset,
           ts + INTERVAL 7 HOUR AS DateTimeUTC,
           user_id AS SiteID,
           event_type AS VariableCode,
           CAST(json_extract(props, '$.k') AS INT) % 2 + 1 AS MethodID,
           1 AS SourceID,
           CASE WHEN CAST(json_extract(props, '$.k') AS INT) % 10 < 8 THEN 0 ELSE 1 END
               AS QualityControlLevelID,
           CASE WHEN CAST(json_extract(props, '$.k') AS INT) % 7 = 0
                THEN CAST(json_extract(props, '$.k') AS INT) % 3 + 1 END AS QualifierID,
           'nc' AS CensorCode
    FROM events
"""


# --- Remaining ODM 1.1.1 dimension schemas (SURVEY.md §1.1; cited per table)
METHODS_SCHEMA = T.StructType(
    [
        T.StructField("MethodID", T.IntegerType(), False),
        T.StructField("MethodDescription", T.StringType(), False),
        T.StructField("MethodLink", T.StringType(), True),
    ]
)  # odmdata/method.py:6-14

SOURCES_SCHEMA = T.StructType(
    [
        T.StructField("SourceID", T.IntegerType(), False),
        T.StructField("Organization", T.StringType(), False),
        T.StructField("SourceDescription", T.StringType(), True),
        T.StructField("SourceLink", T.StringType(), True),
        T.StructField("ContactName", T.StringType(), True),
        T.StructField("Phone", T.StringType(), True),
        T.StructField("Email", T.StringType(), True),
        T.StructField("Address", T.StringType(), True),
        T.StructField("City", T.StringType(), True),
        T.StructField("State", T.StringType(), True),
        T.StructField("ZipCode", T.StringType(), True),
        T.StructField("Citation", T.StringType(), True),
        T.StructField("MetadataID", T.IntegerType(), True),
    ]
)  # odmdata/source.py:8-29

UNITS_SCHEMA = T.StructType(
    [
        T.StructField("UnitsID", T.IntegerType(), False),
        T.StructField("UnitsName", T.StringType(), False),
        T.StructField("UnitsType", T.StringType(), True),
        T.StructField("UnitsAbbreviation", T.StringType(), True),
    ]
)  # odmdata/unit.py:6-15 — referenced twice by variables (variable + time units)

QUALIFIERS_SCHEMA = T.StructType(
    [
        T.StructField("QualifierID", T.IntegerType(), False),
        T.StructField("QualifierCode", T.StringType(), True),
        T.StructField("QualifierDescription", T.StringType(), True),
    ]
)  # odmdata/qualifier.py:6-14

QUALITY_CONTROL_LEVELS_SCHEMA = T.StructType(
    [
        T.StructField("QualityControlLevelID", T.IntegerType(), False),
        T.StructField("QualityControlLevelCode", T.StringType(), False),
        T.StructField("Definition", T.StringType(), True),
        T.StructField("Explanation", T.StringType(), True),
    ]
)  # odmdata/quality_control_level.py:6-15

OFFSET_TYPES_SCHEMA = T.StructType(
    [
        T.StructField("OffsetTypeID", T.IntegerType(), False),
        T.StructField("OffsetUnitsID", T.IntegerType(), True),
        T.StructField("OffsetDescription", T.StringType(), True),
    ]
)  # odmdata/offset_type.py:8-19

SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("SampleID", T.IntegerType(), False),
        T.StructField("SampleType", T.StringType(), True),
        T.StructField("LabSampleCode", T.StringType(), True),
        T.StructField("LabMethodID", T.IntegerType(), True),
    ]
)  # odmdata/sample.py:9-21

LAB_METHODS_SCHEMA = T.StructType(
    [
        T.StructField("LabMethodID", T.IntegerType(), False),
        T.StructField("LabName", T.StringType(), True),
        T.StructField("LabOrganization", T.StringType(), True),
        T.StructField("LabMethodName", T.StringType(), True),
        T.StructField("LabMethodLink", T.StringType(), True),
    ]
)  # odmdata/lab_method.py:6-17

SPATIAL_REFERENCES_SCHEMA = T.StructType(
    [
        T.StructField("SpatialReferenceID", T.IntegerType(), False),
        T.StructField("SRSID", T.IntegerType(), True),
        T.StructField("SRSName", T.StringType(), True),
        T.StructField("IsGeographic", T.BooleanType(), True),
        T.StructField("Notes", T.StringType(), True),
    ]
)  # odmdata/spatial_reference.py:6-16 — referenced twice by sites

# Controlled vocabularies: 11 two-column (Term, Definition) tables
# (odmdata/__init__.py:1-29; read path cv_service.py:30-120). One schema
# serves them all — they differ only by table name.
CV_SCHEMA = T.StructType(
    [
        T.StructField("Term", T.StringType(), False),
        T.StructField("Definition", T.StringType(), True),
    ]
)
CV_TABLES = [
    "CensorCodeCV", "DataTypeCV", "GeneralCategoryCV", "SampleMediumCV",
    "SampleTypeCV", "SpeciationCV", "TopicCategoryCV", "ValueTypeCV",
    "VariableNameCV", "VerticalDatumCV", "SiteTypeCV",
]
