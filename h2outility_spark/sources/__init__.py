from h2outility_spark.sources.parquet import TABLES, load_table, register_views  # noqa: F401
