"""JDBC append sink (SURVEY.md §2.1 S9; reference ``series_service.py:746-752``
— ``df.to_sql("datavalues", if_exists='append')``).

Smoke-tested against embedded Apache Derby (the JDBC driver that ships on
Spark's own classpath) in tests/test_jdbc_derby.py; the production path for
writing back to an ODM relational store. Partitioned writes: each executor
opens its own connection and appends its partitions — set
``numPartitions``/``batchsize`` to respect the target DB's write throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def append_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict | None = None,
    num_partitions: int | None = None,
) -> None:
    out = df.repartition(num_partitions) if num_partitions else df
    writer = out.write.mode("append").format("jdbc").option("url", url).option("dbtable", table).option(
        "batchsize", "10000"
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
