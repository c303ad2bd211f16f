"""Parquet sources for the driver test tables.

Reference analog: the multi-dialect relational scan (S1/S2,
``src/GAMUTRawData/odmservices/service_manager.py:121-171`` and
``series_service.py:432-434`` in /root/reference). Here the storage layer is
columnar parquet; Catalyst gives predicate pushdown + column pruning on every
scan, which replaces the reference's hand-embedded SQL filters (SURVEY.md §4).

Every parquet read here (:func:`load_table`, and :func:`read_parquet` for
the package's read-backs of its own sinks) takes its schema from one file
footer (:func:`footer_schema`, pyarrow metadata only) and hands it to
``spark.read.schema(...)``, so no table load runs Spark's schema-inference
job, and no session conf is set: nanosecond timestamps come back as raw
int64 through the footer schema itself and are truncated to microseconds.

Scale notes: at 100 TB the fact tables (``lineitem``, ``events``,
``documents``) arrive as directory trees partitioned by date/key — the same
read handles both (partition columns are discovered from the paths), and
partition pruning kicks in when queries filter on partition columns.
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to always broadcast (reference always fetched
# them whole and joined client-side — DatasetUtilities.py:183-189).
BROADCAST_DIMS = {"region", "nation", "supplier", "customer", "part"}


#: Footer key under which Spark stores the exact schema of the files it
#: writes; Spark's own inference reads it too.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_file(path: str) -> str | None:
    """``path`` itself, or the first visible ``*.parquet`` file under the
    directory ``path`` (names starting with ``_`` or ``.`` are skipped, as
    Spark skips them); None when there is none."""
    if not os.path.isdir(path):
        return path if os.path.isfile(path) else None
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


@lru_cache(maxsize=256)
def _footer_schema_of(file: str, mtime_ns: int, size: int) -> tuple[StructType, tuple[str, ...]]:
    # mtime_ns and size only key the cache: a file rewritten at the same
    # path gets a fresh entry instead of the stale schema.
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    meta = pq.read_metadata(file)
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        schema = StructType.fromJson(json.loads(spark_json))
        return StructType([StructField(f.name, f.dataType, True, f.metadata) for f in schema]), ()
    fields, nanos = [], []
    for f in meta.schema.to_arrow_schema():
        if pt.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(StructField(f.name, LongType()))
            nanos.append(f.name)
        elif pt.is_timestamp(f.type):
            fields.append(StructField(f.name, TimestampType()))
        else:
            fields.append(StructField(f.name, from_arrow_type(f.type)))
    return StructType(fields), tuple(nanos)


def footer_schema(path: str) -> tuple[StructType, tuple[str, ...]] | None:
    """(Spark read schema, nanosecond-timestamp columns) of a parquet file
    or directory, read from one file footer with pyarrow — metadata only,
    no Spark job — or None when ``path`` holds no parquet file.

    A footer written by Spark carries Spark's exact schema, which is used
    as is. Otherwise ``TIMESTAMP(NANOS)`` reads as raw ``LONG`` (Spark's
    reader cannot decode it as a timestamp), any other timestamp as
    ``TIMESTAMP`` (never ``TIMESTAMP_NTZ``, whatever the session's
    ``inferTimestampNTZ`` says), and every other type as pyspark's Arrow
    mapping gives it. Every field is nullable, as in an inferred read.
    """
    file = _footer_file(path)
    if file is None:
        return None
    st = os.stat(file)
    return _footer_schema_of(file, st.st_mtime_ns, st.st_size)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the footer
    (:func:`footer_schema`) instead of inferred by a Spark job. A
    partitioned directory's partition columns are still discovered from its
    paths. With no parquet file under ``path`` this is the plain read, which
    raises Spark's own error."""
    footer = footer_schema(path)
    if footer is None:
        return spark.read.parquet(path)
    schema, nanos = footer
    df = spark.read.schema(schema).parquet(path)
    # Nanosecond columns arrive as raw int64: truncate them to microsecond
    # timestamps with integer division — bit-identical to how DuckDB
    # surfaces the same file.
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the ``lineitem`` table as a temp view so spark.sql can read it."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")


def load_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    properties: dict | None = None,
) -> DataFrame:
    """JDBC scan (S1–S3).

    The reference built dialect-specific connection strings and read via
    ``pandas.read_sql_query`` with a vestigial 250k-row chunk size
    (``series_service.py:388,436-441``). Spark's partitioned JDBC read is the
    scalable form of that chunking: ``numPartitions`` concurrent range scans
    bounded by ``partitionColumn``. Smoke-tested end-to-end against
    embedded Apache Derby (tests/test_jdbc_derby.py): full read,
    partitioned read, and query-as-source pushdown.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table_or_query)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


# ---------------------------------------------------------------------------
# Multi-dialect JDBC URL construction (S1)
# ---------------------------------------------------------------------------

#: engine -> (jdbc url template, driver class). The reference assembled
#: SQLAlchemy connection strings per engine
#: (service_manager.py:121-159 __build_connection_string — mssql via
#: pyodbc/FreeTDS, mysql via pymysql, postgresql via psycopg2, sqlite by
#: file path); the Spark-native form is a JDBC url + driver class handed to
#: the DataSource V1 jdbc reader. Driver JARS are deployment artifacts
#: (none ship in this container — the jdbc PATH itself is proven against
#: embedded Derby in tests/test_jdbc_derby.py); url construction is pure
#: string logic and fully testable.
JDBC_DIALECTS: dict[str, tuple[str, str]] = {
    "mssql": (
        "jdbc:sqlserver://{host}:{port};databaseName={db}",
        "com.microsoft.sqlserver.jdbc.SQLServerDriver",
    ),
    "mysql": ("jdbc:mysql://{host}:{port}/{db}", "com.mysql.cj.jdbc.Driver"),
    "postgresql": ("jdbc:postgresql://{host}:{port}/{db}", "org.postgresql.Driver"),
    "sqlite": ("jdbc:sqlite:{db}", "org.sqlite.JDBC"),
    "derby": ("jdbc:derby:{db};create=true", "org.apache.derby.jdbc.EmbeddedDriver"),
}


def jdbc_url(engine: str, db: str, host: str = "localhost", port: int | None = None) -> tuple[str, str]:
    """(url, driver_class) for a dialect. File-backed engines (sqlite,
    derby) take ``db`` as a path and ignore host/port."""
    if engine not in JDBC_DIALECTS:
        raise ValueError(f"unknown JDBC dialect {engine!r}; known: {sorted(JDBC_DIALECTS)}")
    template, driver = JDBC_DIALECTS[engine]
    default_ports = {"mssql": 1433, "mysql": 3306, "postgresql": 5432}
    port = port if port is not None else default_ports.get(engine, 0)
    return template.format(host=host, port=port, db=db), driver


def load_dialect_table(
    spark: SparkSession,
    engine: str,
    db: str,
    table_or_query: str,
    host: str = "localhost",
    port: int | None = None,
    user: str | None = None,
    password: str | None = None,
    **partition_kwargs,
) -> DataFrame:
    """Dialect-addressed JDBC scan: build the url/driver for ``engine`` and
    read through load_jdbc (credentials go through reader options, never
    into the url)."""
    url, driver = jdbc_url(engine, db, host, port)
    props = {"driver": driver}
    if user is not None:
        props["user"] = user
    if password is not None:
        props["password"] = password
    return load_jdbc(spark, url, table_or_query, properties=props, **partition_kwargs)
