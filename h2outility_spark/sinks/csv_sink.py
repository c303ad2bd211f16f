"""CSV sinks (SURVEY.md §2.1 S5–S7, S10).

The reference writes one annotated CSV per (site, source, QC[, year]) chunk:
a ``#``-prefixed metadata header block followed by the wide matrix
(``src/Utilities/DatasetUtilities.py:387-406`` header build ``:420-466``,
file name build ``:247-264`` in /root/reference).

Spark-first shape: the distributed engine produces the (small, per-chunk)
wide DataFrame; the sink serializes ONE file per chunk. Files are small by
construction — the reference's own chunking guarantees it — so a
single-partition write per chunk is correct, and chunks themselves are
written in parallel by the job planner. For bulk row-level export (S7) at
scale, ``df.write.csv`` keeps the write distributed.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame, functions as F


def _format_no_data(v: float) -> str:
    """Pretty-print the sentinel like the reference (integer-ness check,
    DatasetUtilities.py:642): -9999.0 prints as '-9999'."""
    return str(int(v)) if float(v).is_integer() else str(v)


def build_annotated_header(
    site: dict | None = None,
    variables: list[dict] | None = None,
    source: dict | None = None,
    qc_level: dict | None = None,
) -> str:
    """Build the '#'-comment metadata block (S5).

    Mirrors the reference's section order — site, variable(s) incl.
    NoDataValue sentinel, source, QC level (DatasetUtilities.py:420-534) —
    in a cleaner key=value format. For byte-exact migration compatibility
    with files the reference wrote, use
    ``sinks.annotated_header.build_series_file_header`` instead.
    """
    lines = ["# Generated by h2outility_spark"]
    if site:
        lines.append("# Site: " + ", ".join(f"{k}={v}" for k, v in site.items()))
    for var in variables or []:
        pretty = {
            k: (_format_no_data(v) if k == "NoDataValue" else v) for k, v in var.items()
        }
        lines.append("# Variable: " + ", ".join(f"{k}={v}" for k, v in pretty.items()))
    if source:
        lines.append("# Source: " + ", ".join(f"{k}={v}" for k, v in source.items()))
    if qc_level:
        lines.append("# QualityControlLevel: " + ", ".join(f"{k}={v}" for k, v in qc_level.items()))
    return "\n".join(lines) + "\n"


def chunk_file_name(site_code: str, series: str | None, source_code: str, qc_code: str, year: int | None = None) -> str:
    """File name encoding site/series/source/QC/year (S5 name build,
    DatasetUtilities.py:247-264). ``series`` is ``<VariableCode>-<MethodID>``
    for a one-series chunk (the reference's A3 disambiguation), None for a
    whole group. Each part is percent-encoded like the fleet writer's keys,
    so a free-text ODM code cannot add a directory or leave ``out_dir``."""
    parts = [site_code, series or "all", source_code, f"QC{qc_code}"]
    if year is not None:
        parts.append(str(year))
    return "_".join(urllib.parse.quote(str(p), safe="") for p in parts) + ".csv"


def write_annotated_csv(wide: DataFrame, path: str, header_text: str = "", order_by: list[str] | None = None) -> str:
    """S5: one annotated CSV file at ``path``.

    The frame is a per-chunk wide matrix (small by construction). We sort,
    pull through Arrow (``toPandas`` — columnar, no row-by-row py4j), and
    write header + data in one pass so the output is a single exact file,
    which a distributed writer cannot produce directly.
    """
    if order_by:
        wide = wide.orderBy(*order_by)
    pdf = wide.toPandas()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(header_text)
        pdf.to_csv(f, index=False)
    return path


def write_annotated_chunks_distributed(
    wide: DataFrame,
    out_dir: str,
    chunk_col: str = "SiteID",
    order_by: list[str] | None = None,
) -> DataFrame:
    """S5 at fleet scale: ONE annotated CSV per chunk value, written
    EXECUTOR-SIDE (``applyInPandas`` over ``groupBy(chunk_col)``) instead
    of a driver loop — N executors serialize N chunks concurrently, which
    is how a 100 TB export with thousands of (site, source, QC) chunks
    must run (the reference iterates them serially,
    ``DatasetUtilities.py:247-288``). ``out_dir`` must be a shared
    filesystem / object-store path visible to every executor (trivially
    true on local[N]; s3/nfs/hdfs-fuse on a cluster).

    Each file starts with a generic '#' header naming its chunk. Returns a
    (chunk, path, n_rows) summary frame — the write happens when it is
    acted on, once, in the same job.
    """
    os.makedirs(out_dir, exist_ok=True)
    sort_cols = order_by or [chunk_col]
    cols = wide.columns

    # Spark's groupBy keeps NULL and NaN as DISTINCT groups for a
    # floating-point chunk column, but Arrow hands both to the pandas
    # worker as NaN in a float64 column — the two groups would encode to
    # the same '%00null' filename and the later os.replace would silently
    # drop one (ADVICE r9). Fold NaN into the NULL group BEFORE grouping:
    # one well-defined "missing" chunk, one file, union of both groups.
    from pyspark.sql import functions as _F
    from pyspark.sql.types import DoubleType, FloatType

    if isinstance(wide.schema[chunk_col].dataType, (DoubleType, FloatType)):
        wide = wide.withColumn(
            chunk_col,
            _F.when(_F.isnan(_F.col(chunk_col)), _F.lit(None)).otherwise(_F.col(chunk_col)),
        )

    def _write(pdf):
        import os as _os
        import urllib.parse as _up
        import uuid as _uuid

        import pandas as pd

        key = pdf[chunk_col].iloc[0]
        header = f"# Generated by h2outility_spark\n# Chunk: {chunk_col}={key}\n"
        # percent-encode the chunk value so a '/'-bearing site code cannot
        # escape out_dir (and ':'/'*' survive object-store path rules).
        # NULL keys (incl. NaN, folded into NULL above) get a reserved
        # spelling that quote() can never emit for a real value ('%' is
        # always escaped to '%25'), so the missing group and a literal
        # 'None'/'nan' string key cannot both encode to the same filename
        # and silently overwrite each other
        safe_key = "%00null" if pd.isna(key) else _up.quote(str(key), safe="")
        path = _os.path.join(out_dir, f"{chunk_col}={safe_key}.csv")
        # write-then-atomic-rename: a retried or speculative attempt (or a
        # re-acted summary frame) must never leave a torn file — each
        # attempt writes its own tmp and os.replace publishes whole files
        # only, last complete attempt winning
        tmp = f"{path}.tmp-{_uuid.uuid4().hex}"
        body = pdf[cols].sort_values(sort_cols)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(header)
            body.to_csv(f, index=False)
        _os.replace(tmp, path)
        return pd.DataFrame({"chunk": [str(key)], "path": [path], "n_rows": [len(pdf)]})

    return wide.groupBy(chunk_col).applyInPandas(
        _write, "chunk string, path string, n_rows long"
    )


def append_csv(rows: DataFrame, path: str) -> int:
    """S6: append incremental rows (no header), ordered by (SiteID,
    obs_date), to an existing chunk file (DatasetUtilities.py:367-384)."""
    pdf = rows.orderBy("SiteID", "obs_date").toPandas()
    with open(path, "a", encoding="utf-8") as f:
        pdf.to_csv(f, index=False, header=False)
    return len(pdf)


def read_csv_watermark(spark, path: str, ts_col: str) -> object:
    """S10: the incremental start point = max timestamp already exported.

    The reference reverse-seeks the file tail (DatasetUtilities.py:537-565);
    the declarative form is an aggregate over the file — Spark reads only
    the projected column, and at scale the exported data is parquet where
    this is a metadata-only min/max."""
    df = spark.read.option("header", True).csv(path, comment="#")
    return df.agg(F.max(F.col(ts_col).cast("timestamp")).alias("wm")).collect()[0]["wm"]


# Flag-gated column sets for row-wise export (S7; export_service.py:15-118).
EXPORT_FLAG_COLUMNS: dict[str, list[str]] = {
    "utc": ["DateTimeUTC"],
    "site": ["SiteID"],
    "var": ["VariableCode"],
    "offset": ["OffsetValue", "OffsetTypeID"],
    "qual": ["QualifierID"],
    "src": ["SourceID"],
    "qcl": ["QualityControlLevelID"],
}


def export_series_rows(dv: DataFrame, path: str, **flags: bool) -> None:
    """S7: configurable row-wise CSV export — flag-gated column sets around
    the core (LocalDateTime, DataValue). Distributed write (one file per
    partition); callers needing a single file coalesce(1) first."""
    cols = ["LocalDateTime", "DataValue"]
    for flag, extra in EXPORT_FLAG_COLUMNS.items():
        if flags.get(flag, False):
            cols += [c for c in extra if c in dv.columns]
    # full microsecond precision: the default CSV timestampFormat truncates
    # to milliseconds, silently lossy for sensor data
    dv.select(*cols).write.mode("overwrite").option("header", True).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).csv(path)
