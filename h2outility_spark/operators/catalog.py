"""Series catalog — the derived ``seriescatalog`` summary (SURVEY.md §1.1,
G4; reference ``odmdata/series.py:48-81``, maintained by hand at
``edit_service.py:430-434``).

The reference keeps a denormalized materialized table so metadata browsing
never scans the fact table. Spark form: one ``groupBy(quintuple)`` with
map-side partial aggregation (min/max/count are all partial-aggregable, so
the shuffle carries one row per series, not per observation — at 100 TB the
shuffle volume is |series|, a few orders of magnitude below |values|).
Persist the result as the browsable summary table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from h2outility_spark.schema import SERIES_KEYS


def derive_catalog(dv: DataFrame, keys: list[str] | None = None, ts_col: str = "LocalDateTime") -> DataFrame:
    """groupBy(series keys).agg(min, max, count) → one catalog row per series."""
    keys = keys or [k for k in SERIES_KEYS if k in dv.columns]
    aggs = [
        F.min(ts_col).alias("BeginDateTime"),
        F.max(ts_col).alias("EndDateTime"),
        F.count(F.lit(1)).alias("ValueCount"),
    ]
    if "DateTimeUTC" in dv.columns:
        aggs += [F.min("DateTimeUTC").alias("BeginDateTimeUTC"), F.max("DateTimeUTC").alias("EndDateTimeUTC")]
    return dv.groupBy(*keys).agg(*aggs)


def series_year_range(catalog: DataFrame) -> DataFrame:
    """GetSeriesYearRange (G3; DatasetUtilities.py:409-417): min begin year /
    max end year over the selected series, expanded to the year list used for
    chunk-by-year export."""
    return catalog.agg(
        F.year(F.min("BeginDateTime")).alias("start_year"),
        F.year(F.max("EndDateTime")).alias("end_year"),
    ).select("start_year", "end_year", F.sequence("start_year", "end_year").alias("years"))
