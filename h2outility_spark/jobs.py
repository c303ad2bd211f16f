"""Job planner — the headless export pipeline (SURVEY.md §3.1; reference
``src/SilentUpdater.py`` → ``H2OServices.py:102-207`` →
``DatasetUtilities.py:208-364`` in /root/reference).

A *managed resource* is a JSON-persisted rule: which series go to which
destination, single-file vs one-file-per-series, and whether to chunk by
year (``DatasetUtilities.py:43-87``). The planner:

  1. groups the selected series into chunks — one output file per
     (SiteID, SourceID, QCLevelID) group, or per single series
     (``H2OSeries.py:115-144`` / G6);
  2. validates each chunk spans exactly one site/source/QC
     (``DatasetUtilities.py:217-231`` / G5);
  3. optionally splits chunks per calendar year (G3);
  4. per chunk: filtered extraction → wide pivot (pivot values supplied
     from the catalog, not discovered) → per-variable sentinel fill →
     time-sorted annotated CSV.

Spark-first inversion of the reference's control flow: the reference loops
serially over chunks, each chunk a full DB round-trip; here the catalog
pass is ONE distributed job, and each chunk's export is a narrow
filtered slice of the partitioned fact table (predicate pushdown prunes
at the scan). Chunks are independent — at scale submit them as concurrent
jobs on one SparkSession (FAIR scheduler), not a serial driver loop.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame

from h2outility_spark.operators.catalog import derive_catalog
from h2outility_spark.operators.extract import build_predicate
from h2outility_spark.operators.reshape import fill_no_data, pivot_column_names, pivot_wide, sort_matrix
from h2outility_spark.sinks import csv_sink


@dataclass
class ManagedResource:
    """Job spec (jsonpickle analog — plain JSON here)."""

    name: str
    site_id: object = None
    source_id: object = None
    qc_id: object = None
    variable_codes: list[str] | None = None
    single_file: bool = True
    chunk_by_year: bool = False
    no_data_value: float = -9999.0

    @classmethod
    def from_json(cls, path: str) -> list["ManagedResource"]:
        with open(path, encoding="utf-8") as f:
            return [cls(**spec) for spec in json.load(f)]

    def to_dict(self) -> dict:
        return {k: v for k, v in self.__dict__.items()}


@dataclass
class Chunk:
    site_id: object
    source_id: object
    qc_id: object
    pairs: list[tuple[str, int]]  # (VariableCode, MethodID) in catalog order
    year: int | None = None


def plan_chunks(catalog_rows: list, resource: ManagedResource) -> list[Chunk]:
    """G6 chunk grouping over collected catalog rows (one row per series —
    tiny by construction). Single-file resources make one chunk per
    (site, source, qc); otherwise one chunk per series."""
    groups: dict[tuple, list] = {}
    for row in catalog_rows:
        if resource.variable_codes and row["VariableCode"] not in resource.variable_codes:
            continue
        key = (row["SiteID"], row["SourceID"], row["QualityControlLevelID"])
        groups.setdefault(key, []).append(row)
    chunks = []
    for (site, source, qc), rows in sorted(groups.items()):
        # G5 validation is structural here: a chunk key IS one site/source/qc
        ordered = sorted(rows, key=lambda r: (r["VariableCode"], r["MethodID"]))
        pairs = [(r["VariableCode"], r["MethodID"]) for r in ordered]
        group_chunks = (
            [Chunk(site, source, qc, pairs)]
            if resource.single_file
            else [Chunk(site, source, qc, [p]) for p in pairs]
        )
        if resource.chunk_by_year:
            # G3: the group's own series bound the year window
            y0 = min(r["BeginDateTime"].year for r in rows)
            y1 = max(r["EndDateTime"].year for r in rows)
            group_chunks = [
                Chunk(c.site_id, c.source_id, c.qc_id, c.pairs, year=y)
                for c in group_chunks
                for y in range(y0, y1 + 1)
            ]
        chunks.extend(group_chunks)
    return chunks


def export_chunk(dv: DataFrame, chunk: Chunk, out_dir: str, resource: ManagedResource) -> str:
    """One chunk → one annotated wide CSV (the §3.1 slice)."""
    ts_cols = ["LocalDateTime", "UTCOffset", "DateTimeUTC"]
    start = f"{chunk.year}-01-01 00:00:00" if chunk.year else None
    # Through the last microsecond (Spark timestamp precision): BETWEEN is
    # inclusive, and a row at 23:59:59.5 belongs to this year.
    end = f"{chunk.year}-12-31 23:59:59.999999" if chunk.year else None
    pred = build_predicate(
        site_id=chunk.site_id,
        source_id=chunk.source_id,
        qc_id=chunk.qc_id,
        variable_codes=[c for c, _ in chunk.pairs],
        start=start,
        end=end,
    )
    slice_df = dv.filter(pred)
    wide = pivot_wide(slice_df, ts_cols, chunk.pairs)
    names = pivot_column_names(chunk.pairs)
    wide = fill_no_data(wide, {names[p]: resource.no_data_value for p in chunk.pairs})
    wide = sort_matrix(wide, ts_cols)
    header = csv_sink.build_annotated_header(
        site={"SiteID": chunk.site_id},
        variables=[
            {"VariableCode": code, "MethodID": m, "NoDataValue": resource.no_data_value}
            for code, m in chunk.pairs
        ],
        source={"SourceID": chunk.source_id},
        qc_level={"QualityControlLevelID": chunk.qc_id},
    )
    name = csv_sink.chunk_file_name(
        str(chunk.site_id),
        "{}-{}".format(*chunk.pairs[0]) if len(chunk.pairs) == 1 else None,
        str(chunk.source_id),
        str(chunk.qc_id),
        chunk.year,
    )
    return csv_sink.write_annotated_csv(wide, f"{out_dir}/{name}", header)


def run_export(dv: DataFrame, resource: ManagedResource, out_dir: str) -> list[str]:
    """The SilentUpdater path: catalog → chunks → per-chunk export."""
    keys = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]
    catalog = derive_catalog(dv, keys=keys)
    pred = build_predicate(
        site_id=resource.site_id, source_id=resource.source_id, qc_id=resource.qc_id
    )
    rows = catalog.filter(pred).collect()  # one row per series — small
    chunks = plan_chunks(rows, resource)
    return [export_chunk(dv, c, out_dir, resource) for c in chunks]
