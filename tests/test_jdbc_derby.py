"""JDBC round-trip smoke test (SURVEY.md §2.1 S1/S3/S9) against embedded
Apache Derby — the one JDBC engine whose driver ships inside Spark's own
classpath (derby*.jar, used for the Hive metastore), so this exercises the
real JDBC read/write code paths with no extra jars.

Reference analog: multi-dialect scan ``service_manager.py:121-171`` and SQL
append ``series_service.py:746-752`` in /root/reference. Embedded Derby is
single-JVM, which matches local[N] (driver and executors share the JVM); on
a cluster the same code points at a networked RDBMS URL instead.
"""

from __future__ import annotations

import shutil

import pytest

from h2outility_spark.sinks.jdbc_sink import append_jdbc
from h2outility_spark.sources.parquet import load_jdbc

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def derby_url(tmp_path):
    db_dir = tmp_path / "derbydb"
    url = f"jdbc:derby:{db_dir};create=true"
    yield url
    shutil.rmtree(db_dir, ignore_errors=True)


def test_jdbc_append_then_load_roundtrip(spark, derby_url):
    rows = [(i, f"site_{i % 5}", float(i) * 1.5) for i in range(200)]
    df = spark.createDataFrame(rows, "value_id int, site string, data_value double")
    append_jdbc(df, derby_url, "datavalues", properties={"driver": DRIVER}, num_partitions=2)

    back = load_jdbc(spark, derby_url, "datavalues", properties={"driver": DRIVER})
    assert back.count() == 200
    got = sorted((r["value_id"], r["site"], r["data_value"]) for r in back.collect())
    assert got == sorted(rows)

    # append again: S9 semantics are append, not overwrite
    append_jdbc(df.limit(10), derby_url, "datavalues", properties={"driver": DRIVER})
    assert load_jdbc(spark, derby_url, "datavalues", properties={"driver": DRIVER}).count() == 210


def test_jdbc_partitioned_read(spark, derby_url):
    rows = [(i, float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "value_id int, data_value double")
    append_jdbc(df, derby_url, "chunked", properties={"driver": DRIVER})

    # S3: the reference's vestigial 250k-row chunked fetch, done right —
    # numPartitions concurrent range scans on the partition column
    back = load_jdbc(
        spark,
        derby_url,
        "chunked",
        partition_column="value_id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=4,
        properties={"driver": DRIVER},
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 1000
    assert back.agg({"data_value": "sum"}).collect()[0][0] == sum(float(i) for i in range(1000))


def test_jdbc_query_pushdown(spark, derby_url):
    """S2: query→DataFrame scan — ship a SQL subquery as the JDBC source."""
    rows = [(i, f"t{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "id int, tag string")
    append_jdbc(df, derby_url, "tagged", properties={"driver": DRIVER})
    # Spark quotes identifiers at CREATE time (case-sensitive lowercase
    # names) and maps StringType to Derby CLOB, which is not directly
    # comparable to a CHAR literal — hence the quoting and the CAST
    sub = '(SELECT "id", "tag" FROM tagged WHERE CAST("tag" AS VARCHAR(32)) = \'t1\') q'
    back = load_jdbc(spark, derby_url, sub, properties={"driver": DRIVER})
    assert back.count() == 30
    assert set(r["tag"] for r in back.collect()) == {"t1"}


def test_jdbc_dialect_urls():
    """Dialect url construction (reference service_manager.py:121-159
    analog): exact url + driver class per engine; unknown engines fail
    loudly."""
    import pytest

    from h2outility_spark.sources.parquet import jdbc_url

    assert jdbc_url("mssql", "odm", "dbhost") == (
        "jdbc:sqlserver://dbhost:1433;databaseName=odm",
        "com.microsoft.sqlserver.jdbc.SQLServerDriver",
    )
    assert jdbc_url("mysql", "odm", "h", 3307) == (
        "jdbc:mysql://h:3307/odm", "com.mysql.cj.jdbc.Driver"
    )
    assert jdbc_url("postgresql", "odm") == (
        "jdbc:postgresql://localhost:5432/odm", "org.postgresql.Driver"
    )
    assert jdbc_url("sqlite", "/data/odm.db")[0] == "jdbc:sqlite:/data/odm.db"
    with pytest.raises(ValueError, match="unknown JDBC dialect"):
        jdbc_url("oracle", "odm")


def test_jdbc_dialect_round_trip_via_derby(spark, tmp_path):
    """load_dialect_table drives the SAME partitioned jdbc reader the other
    dialects use — proven end-to-end with the embedded engine we have."""
    from h2outility_spark.sources.parquet import load_dialect_table, load_table
    from tests.conftest import SF_DIR

    db = str(tmp_path / "dialectdb")
    src = load_table(spark, SF_DIR, "region")
    url = f"jdbc:derby:{db};create=true"
    (src.write.format("jdbc").option("url", url)
        .option("dbtable", "region")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").save())
    back = load_dialect_table(spark, "derby", db, "region")
    assert sorted(r["r_name"] for r in back.collect()) == sorted(
        r["r_name"] for r in src.collect()
    )


def test_dialect_write_read_roundtrip(spark, tmp_path):
    """Multi-dialect path end-to-end on the one engine with an in-container
    driver: append through ``append_jdbc`` at the dialect's url/driver
    pair, read back via the dialect-addressed loader — proving the
    url-builder wiring on BOTH sides (the other dialects share this exact
    code path, only the url/driver tuple differs)."""
    from h2outility_spark.sources.parquet import jdbc_url, load_dialect_table

    db = str(tmp_path / "dialectdb")
    url, driver = jdbc_url("derby", db)
    rows = [(i, f"v{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "id int, payload string")
    append_jdbc(df, url, "t_dialect", properties={"driver": driver}, num_partitions=2)

    back = load_dialect_table(spark, "derby", db, "t_dialect")
    assert sorted((r["id"], r["payload"]) for r in back.collect()) == sorted(rows)

    # second append accumulates (S9 append semantics through the dialect path)
    append_jdbc(df.limit(5), url, "t_dialect", properties={"driver": driver})
    assert load_dialect_table(spark, "derby", db, "t_dialect").count() == 55
