"""Export and interchange family (SURVEY.md §2.1 S1–S12): every query
writes through a sink — annotated CSV chunks, flag-gated row export, XML
metadata, JDBC append, REST posting, JSON Lines, partitioned parquet,
secondary-sort export — or federates sources, then reads the result back
and returns the parsed frame.

The oracle re-states the expected content independently of the writer
(for the annotated export, the header bytes are a HAND-WRITTEN literal, not
generated by the same builder), so a green row certifies the format, the
write path and the read-back fidelity at once.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F, types as T

from h2outility_spark.functions import fround
from h2outility_spark.operators.catalog import derive_catalog
from h2outility_spark.operators.reshape import fill_no_data, pivot_column_names, pivot_wide
from h2outility_spark.sinks.csv_sink import (
    append_csv,
    build_annotated_header,
    export_series_rows,
    read_csv_watermark,
    write_annotated_csv,
)
from h2outility_spark.sinks.jdbc_sink import append_jdbc
from h2outility_spark.sinks.xml_metadata import export_series_metadata
from h2outility_spark.sources.parquet import load_jdbc, read_parquet
from h2outility_spark.workload import DV_CTE, _dv, _t, query, scratch_dir
from h2outility_spark.workload_qc import PIVOT_PAIRS, _wide_export_oracle


# Chunk metadata, passed to the header builder in the query fn.
_SITE = {"Code": "S1", "Name": "Gauge One"}
_VARS = [{"Code": "click", "NoDataValue": -9999.0}]
_SOURCE = {"Organization": "h2outility_spark"}
_QC = {"Code": "1", "Definition": "Quality controlled data"}

#: The EXPECTED header block, hand-written (NOT generated by
#: build_annotated_header — that would put the same code on both sides of
#: the comparison). Spells out the contract: section order, 'k=v' pairs
#: joined by ', ', and the NoDataValue integer-printing rule (-9999.0 ->
#: '-9999', DatasetUtilities.py:642).
_EXPECTED_HEADER = (
    "# Generated by h2outility_spark\n"
    "# Site: Code=S1, Name=Gauge One\n"
    "# Variable: Code=click, NoDataValue=-9999\n"
    "# Source: Organization=h2outility_spark\n"
    "# QualityControlLevel: Code=1, Definition=Quality controlled data\n"
)


_NAMES = pivot_column_names(PIVOT_PAIRS)
_VALUE_COLS = [_NAMES[p] for p in PIVOT_PAIRS]


def _roundtrip_oracle() -> str:
    cells = ",\n           ".join(
        f"coalesce(floor((avg(CASE WHEN VariableCode = '{code}' AND MethodID = {m} "
        f"THEN DataValue END)) * 100.0 + 0.5) / 100.0, CAST(-9999.0 AS DOUBLE)) AS \"{_NAMES[(code, m)]}\""
        for code, m in PIVOT_PAIRS
    )
    hdr_lit = "e'" + _EXPECTED_HEADER.replace("\n", "\\n") + "'"
    return (
        DV_CTE
        + f""",
    wide AS (
      SELECT SiteID, CAST(LocalDateTime AS DATE) AS obs_date,
             {cells}
      FROM dv WHERE SiteID <= 3
      GROUP BY 1, 2
    )
    SELECT wide.*,
           md5({hdr_lit}) AS header_md5,
           CAST((SELECT max(CAST(LocalDateTime AS DATE)) FROM dv WHERE SiteID <= 3)
                AS TIMESTAMP) AS export_watermark
    FROM wide
    """
    )


@query(
    "annotated_export_roundtrip",
    oracle=_roundtrip_oracle(),
    description=(
        "S5/S6/S10 on one hash: annotated-CSV chunk write (header + sentinel "
        "fill) + headerless append + tail-watermark read + full parse-back"
    ),
)
def q_annotated_export_roundtrip(spark, sf_dir):
    """Write a (site<=2) wide chunk as an annotated CSV, append the site-3
    rows through the S6 headerless-append path, read the S10 watermark off
    the finished file, then parse the WHOLE file back and return it — data
    values, sentinel fills, the appended rows, the watermark, and the md5
    of the on-disk '#' header block all ride the driver hash.

    Scale shape: per-chunk files are small by the reference's own chunking
    contract (one file per site/source/QC selection), so the single-file
    serialize is a bounded toPandas; the PIVOT that feeds it is the
    single-shuffle conditional aggregate certified by wide_export.
    """
    dv = _dv(spark, sf_dir).withColumn("obs_date", F.to_date("LocalDateTime"))

    def chunk(lo: int, hi: int):
        sel = dv.filter((F.col("SiteID") >= lo) & (F.col("SiteID") <= hi))
        wide = pivot_wide(sel, ["SiteID", "obs_date"], PIVOT_PAIRS, agg="avg")
        rounded = wide.select(
            "SiteID", "obs_date", *[fround(F.col(f"`{c}`"), 2).alias(c) for c in _VALUE_COLS]
        )
        return fill_no_data(rounded, {c: -9999.0 for c in _VALUE_COLS})

    path = os.path.join(scratch_dir("h2ou_csvrt_"), "S1_all_SRC1_QC1.csv")
    header = build_annotated_header(
        site=_SITE, variables=_VARS, source=_SOURCE, qc_level=_QC
    )
    write_annotated_csv(chunk(0, 2), path, header, order_by=["SiteID", "obs_date"])
    append_csv(chunk(3, 3), path)
    wm = read_csv_watermark(spark, path, "obs_date")

    # md5 of the header block AS WRITTEN (read back off disk, not reusing
    # the in-memory string): certifies the bytes that actually landed.
    with open(path, encoding="utf-8") as f:
        hdr_lines = []
        for line in f:
            if not line.startswith("#"):
                break
            hdr_lines.append(line)
    hdr_md5 = hashlib.md5("".join(hdr_lines).encode("utf-8")).hexdigest()

    schema = T.StructType(
        [T.StructField("SiteID", T.LongType()), T.StructField("obs_date", T.DateType())]
        + [T.StructField(c, T.DoubleType()) for c in _VALUE_COLS]
    )
    parsed = (
        spark.read.schema(schema)
        .option("header", True)
        .option("comment", "#")
        .csv(path)
    )
    return parsed.select(
        "*",
        F.lit(hdr_md5).alias("header_md5"),
        F.lit(wm).cast("timestamp").alias("export_watermark"),
    )


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


# -- S9 + S3: JDBC append sink and partitioned read, one hash -----------------

JDBC_ROUNDTRIP_ORACLE = """
SELECT event_id AS value_id, ts AS local_dt, value AS data_value
FROM events
"""


@query(
    "jdbc_roundtrip",
    oracle=JDBC_ROUNDTRIP_ORACLE,
    description="S9+S3: Derby JDBC append sink (two commits) + 4-partition chunked range read-back on one hash",
)
def q_jdbc_roundtrip(spark, sf_dir):
    """Append 80% of the DataValues to an embedded-Derby table through the
    S9 JDBC sink (2 writer partitions), APPEND the remaining 20% in a
    second commit, then read the table back as a 4-partition range scan
    (S3 — the reference's vestigial 250k-row chunked fetch done right) and
    return it. Losing a row in either append, double-writing one, or a
    partition-boundary bug in the chunked read all flip the driver hash.
    """
    dv = _dv(spark, sf_dir).select(
        F.col("ValueID").alias("value_id"),
        F.col("LocalDateTime").alias("local_dt"),
        F.col("DataValue").alias("data_value"),
    )
    url = f"jdbc:derby:{scratch_dir('h2ou_jdbcrt_')}/db;create=true"
    props = {"driver": _DERBY_DRIVER}
    append_jdbc(dv.filter(F.col("value_id") % 10 < 8), url, "datavalues", properties=props, num_partitions=2)
    append_jdbc(dv.filter(F.col("value_id") % 10 >= 8), url, "datavalues", properties=props)
    bounds = dv.agg(F.min("value_id").alias("lo"), F.max("value_id").alias("hi")).collect()[0]
    return load_jdbc(
        spark,
        url,
        "datavalues",
        partition_column="value_id",
        lower_bound=int(bounds["lo"]),
        upper_bound=int(bounds["hi"]) + 1,
        num_partitions=4,
        properties=props,
    )


# -- S8: XML metadata export round trip ---------------------------------------

_CATALOG_KEYS = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]


def _py_ts(expr: str) -> str:
    """Render a timestamp the way Python's ``str(datetime)`` does (the XML
    sink stringifies with str()): 6-digit microseconds, but the fractional
    part omitted entirely when it is zero — DuckDB's VARCHAR cast instead
    TRIMS trailing zeros, so a plain CAST drifts on e.g. '.738090'."""
    return (
        f"CASE WHEN microsecond({expr}) % 1000000 = 0 "
        f"THEN strftime({expr}, '%Y-%m-%d %H:%M:%S') "
        f"ELSE strftime({expr}, '%Y-%m-%d %H:%M:%S.%f') END"
    )


XML_ROUNDTRIP_ORACLE = (
    DV_CTE
    + f"""
SELECT CAST(SiteID AS VARCHAR) AS SiteID,
       CAST(VariableCode AS VARCHAR) AS VariableCode,
       CAST(MethodID AS VARCHAR) AS MethodID,
       CAST(SourceID AS VARCHAR) AS SourceID,
       CAST(QualityControlLevelID AS VARCHAR) AS QualityControlLevelID,
       {_py_ts('min(LocalDateTime)')} AS BeginDateTime,
       {_py_ts('max(LocalDateTime)')} AS EndDateTime,
       CAST(count(*) AS VARCHAR) AS ValueCount,
       {_py_ts('min(DateTimeUTC)')} AS BeginDateTimeUTC,
       {_py_ts('max(DateTimeUTC)')} AS EndDateTimeUTC
FROM dv
GROUP BY 1, 2, 3, 4, 5
"""
)


@query(
    "xml_metadata_roundtrip",
    oracle=XML_ROUNDTRIP_ORACLE,
    description="S8: series-catalog XML metadata export re-parsed off disk, element naming/order/stringification on the hash",
)
def q_xml_metadata_roundtrip(spark, sf_dir):
    """Derive the series catalog, export it through the S8 XML metadata
    sink, re-parse the XML OFF DISK, and return one row per <Series>
    element with every child element as a string column — element order,
    tag naming, and value stringification all ride the driver hash (the
    oracle re-states the catalog with VARCHAR casts).
    """
    import xml.etree.ElementTree as ET

    from pyspark.sql import types as T

    cat = derive_catalog(_dv(spark, sf_dir), keys=_CATALOG_KEYS)
    path = scratch_dir("h2ou_xmlrt_") + "/meta.xml"
    export_series_metadata(cat, path)

    cols = cat.columns
    root = ET.parse(path).getroot()
    rows = [tuple((el.findtext(c)) for c in cols) for el in root.iter("Series")]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return spark.createDataFrame(rows, schema)


# -- S7: flag-gated distributed row export round trip -------------------------

EXPORT_ROWS_ORACLE = (
    DV_CTE
    + """
SELECT LocalDateTime, DataValue, DateTimeUTC, SiteID, VariableCode,
       QualityControlLevelID
FROM dv
"""
)


@query(
    "export_rows_roundtrip",
    oracle=EXPORT_ROWS_ORACLE,
    description="S7: flag-gated distributed multi-part row export with lossless microsecond timestamps, read back whole",
)
def q_export_rows_roundtrip(spark, sf_dir):
    """S7 row-wise export with flags utc/site/var/qcl through the
    DISTRIBUTED csv writer (one part file per partition — the bulk-export
    path, not the single-file chunk sink), then read every part back with
    an explicit schema. The flag→column-set contract, the multi-part
    write, and timestamp/double CSV round-trip fidelity are all on the
    hash."""
    from pyspark.sql import types as T

    dv = _dv(spark, sf_dir)
    out = scratch_dir("h2ou_rowsrt_") + "/rows"
    export_series_rows(dv, out, utc=True, site=True, var=True, qcl=True)
    schema = T.StructType(
        [
            T.StructField("LocalDateTime", T.TimestampType()),
            T.StructField("DataValue", T.DoubleType()),
            T.StructField("DateTimeUTC", T.TimestampType()),
            T.StructField("SiteID", T.LongType()),
            T.StructField("VariableCode", T.StringType()),
            T.StructField("QualityControlLevelID", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(out)


# -- S12: REST ingest round trip ----------------------------------------------

REST_INGEST_ORACLE = (
    DV_CTE
    + """
SELECT ValueID AS value_id,
       strftime(LocalDateTime, '%Y-%m-%d %H:%M:%S.%f') AS local_dt,
       floor(DataValue * 100.0 + 0.5) / 100.0 AS data_value
FROM dv WHERE SiteID <= 1
"""
)


@query(
    "rest_ingest_roundtrip",
    oracle=REST_INGEST_ORACLE,
    description="S12: distributed foreachPartition JSON posting to a local HTTP server; returns exactly what the server received",
)
def q_rest_ingest_roundtrip(spark, sf_dir):
    """S12 on a driver hash: POST a DataValues selection to a local HTTP
    endpoint through the DISTRIBUTED sink (``post_json_partitions`` —
    executor-side ``foreachPartition``, 4 partitions, bounded JSON
    batches), then return exactly what the server RECEIVED. A dropped
    batch, a double-post, or a JSON type mangling flips the hash. The
    in-process ThreadingHTTPServer mirrors tests/test_rest_sink.py; on a
    real cluster the same sink code points at a service URL (reference
    analog: ``HydroShareUtility.py`` upload loop).

    The received rows are rebuilt driver-side — bounded by construction
    (the posted selection is a per-chunk slice, same contract as the
    single-file CSV sinks)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from h2outility_spark.sinks.rest_sink import post_json_partitions

    received: list[dict] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silence
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n) if n else b""
            with lock:
                received.extend(json.loads(body))
            out = b'{"ok": true}'
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        sel = (
            _dv(spark, sf_dir)
            .filter(F.col("SiteID") <= 1)
            .select(
                F.col("ValueID").alias("value_id"),
                F.date_format("LocalDateTime", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("local_dt"),
                fround(F.col("DataValue"), 2).alias("data_value"),
            )
            .repartition(4)
        )
        post_json_partitions(sel, f"http://127.0.0.1:{server.server_port}/ingest")
    finally:
        server.shutdown()
        server.server_close()
    rows = [(int(r["value_id"]), str(r["local_dt"]), float(r["data_value"])) for r in received]
    return spark.createDataFrame(rows, "value_id bigint, local_dt string, data_value double")


_FANOUT_NAMES = pivot_column_names(PIVOT_PAIRS)


#: identical content contract to the certified wide_export matrix — the
#: fan-out must reproduce it file-by-file.
ANNOTATED_FANOUT_ORACLE = _wide_export_oracle()


@query(
    "annotated_export_fanout",
    oracle=ANNOTATED_FANOUT_ORACLE,
    description="S5 at the 100 TB shape: every per-site annotated CSV chunk written executor-side (applyInPandas), read back whole",
)
def q_annotated_export_fanout(spark, sf_dir):
    """The reference's whole batch behavior in one query, at the 100 TB
    shape: the full wide matrix is split into per-site chunks and EVERY
    chunk is serialized to its own annotated CSV EXECUTOR-SIDE
    (``write_annotated_chunks_distributed`` — applyInPandas over
    groupBy(SiteID), all chunks in parallel, no driver loop), then every
    file is read back through the comment-skipping CSV scan and the union
    returned. The oracle is the certified wide_export matrix: a chunk
    whose file is missing, double-written, mis-filled, or column-shuffled
    flips the hash. 150 files at sf0.01; same plan at 100k chunks."""
    from pyspark.sql import types as T

    from h2outility_spark.operators.reshape import fill_no_data, pivot_wide
    from h2outility_spark.sinks.csv_sink import write_annotated_chunks_distributed

    dv = _dv(spark, sf_dir).withColumn("obs_date", F.to_date("LocalDateTime"))
    names = _FANOUT_NAMES
    wide = pivot_wide(dv, ["SiteID", "obs_date"], PIVOT_PAIRS, agg="avg")
    value_cols = [names[p] for p in PIVOT_PAIRS]
    rounded = wide.select(
        "SiteID", "obs_date", *[fround(F.col(f"`{c}`"), 2).alias(c) for c in value_cols]
    )
    filled = fill_no_data(rounded, {c: -9999.0 for c in value_cols})

    out_dir = scratch_dir("h2ou_fanout_")
    summary = write_annotated_chunks_distributed(
        filled, out_dir, chunk_col="SiteID", order_by=["SiteID", "obs_date"]
    )
    n_files = summary.count()  # acts the write job; 1-row-per-chunk frame
    assert n_files > 0

    schema = T.StructType(
        [T.StructField("SiteID", T.LongType()), T.StructField("obs_date", T.DateType())]
        + [T.StructField(c, T.DoubleType()) for c in value_cols]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("comment", "#")
        .csv(os.path.join(out_dir, "*.csv"))
    )


# -- S1 federated three-source union ----------------------------------------------

FEDERATED_UNION_ORACLE = """
SELECT event_id AS value_id, ts AS local_dt, value AS data_value
FROM events
"""


@query(
    "federated_union",
    oracle=FEDERATED_UNION_ORACLE,
    description="S1 multi-source federation: CSV + embedded-Derby JDBC + parquet three-way union",
)
def q_federated_union(spark, sf_dir):
    """The S1 multi-dialect story on ONE hash: the same logical table is
    split three ways and round-tripped through three different source
    formats — a header CSV export (microsecond timestampFormat), a Derby
    JDBC table, and native parquet — then unioned back. A row lost or
    mangled by ANY format's writer/reader (timestamp truncation, double
    formatting, JDBC type mapping) flips the hash. At 100 TB this is the
    federation shape: per-source scans stay pushdown-friendly and the
    union is a zero-shuffle concatenation."""
    from pyspark.sql import types as T

    from h2outility_spark.sinks.jdbc_sink import append_jdbc
    from h2outility_spark.sources.parquet import load_jdbc

    sel = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("value_id"),
        F.col("ts").alias("local_dt"),
        F.col("value").alias("data_value"),
    )
    csv_part = sel.filter(F.col("value_id") % 3 == 0)
    jdbc_part = sel.filter(F.col("value_id") % 3 == 1)
    pq_part = sel.filter(F.col("value_id") % 3 == 2)

    csv_dir = scratch_dir("h2ou_fedcsv_") + "/rows"
    (
        csv_part.write.option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csv_dir)
    )
    url = f"jdbc:derby:{scratch_dir('h2ou_fedjdbc_')}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    append_jdbc(jdbc_part, url, "fed_values", properties=props, num_partitions=2)

    schema = T.StructType(
        [
            T.StructField("value_id", T.LongType()),
            T.StructField("local_dt", T.TimestampType()),
            T.StructField("data_value", T.DoubleType()),
        ]
    )
    csv_back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csv_dir)
    )
    jdbc_back = load_jdbc(spark, url, "fed_values", properties=props)
    return csv_back.unionByName(jdbc_back).unionByName(pq_part)


# -- secondary-sort export: repartition + sortWithinPartitions + mapInPandas -------

SECONDARY_SORT_ORACLE = """
WITH e AS (
  SELECT event_type, event_id, ts,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       md5(string_agg(CAST(event_id AS VARCHAR) || ':' || CAST(cents AS VARCHAR),
                      '|' ORDER BY ts, event_id)) AS fingerprint
FROM e GROUP BY event_type
"""


@query(
    "secondary_sort_export",
    oracle=SECONDARY_SORT_ORACLE,
    description="secondary-sort export: repartition + sortWithinPartitions + rolling per-key md5 across Arrow batches",
)
def q_secondary_sort_export(spark, sf_dir):
    """The classic secondary-sort consumer (NOTES r9 §6): all rows of a
    key delivered to ONE consumer IN event-time order, without a driver
    collect — ``repartition(key)`` co-locates each key,
    ``sortWithinPartitions(key, ts, id)`` orders it, and an Arrow-batched
    ``mapInPandas`` streams the partition, folding each key's rows into
    an incremental md5 ACROSS batch boundaries (a key's run can span
    Arrow batches; holding the concatenation in memory would be O(key),
    the rolling digest is O(1)). The per-key fingerprint is
    order-SENSITIVE, so the hash certifies that the sort actually held
    end-to-end — the contract every ordered export (S5's per-chunk CSV
    bodies, reference ``DatasetUtilities.py:247-288``) relies on. ONE
    shuffle; state is one digest per open key. NULL values are filtered
    on BOTH sides before the fingerprint: a nullable cents column would
    reach pandas as float64 (Arrow has no int-with-null without masked
    arrays), stringifying as '123.0'/'nan' where DuckDB CAST emits
    '123'/skip — engine-identical input requires non-null int64."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            "ts",
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
    )
    parted = ev.repartition("event_type").sortWithinPartitions(
        "event_type", "ts", "event_id"
    )

    def fold(batches):
        import hashlib

        import pandas as pd

        state: dict = {}  # event_type -> [md5, n_rows, started]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = pdf["event_id"].astype(str) + ":" + pdf["cents"].astype(str)
            for key, grp in parts.groupby(pdf["event_type"], sort=False):
                chunk = "|".join(grp)
                st = state.get(key)
                if st is None:
                    st = [hashlib.md5(), 0]
                    state[key] = st
                    st[0].update(chunk.encode())
                else:
                    st[0].update(("|" + chunk).encode())
                st[1] += len(grp)
        if state:
            yield pd.DataFrame(
                {
                    "event_type": list(state),
                    "n_events": [v[1] for v in state.values()],
                    "fingerprint": [v[0].hexdigest() for v in state.values()],
                }
            )

    return parted.mapInPandas(
        fold, "event_type string, n_events bigint, fingerprint string"
    )


# -- JSON Lines write -> read fidelity roundtrip -------------------------------------

_JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

JSONL_ROUNDTRIP_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


@query(
    "jsonl_roundtrip",
    oracle=JSONL_ROUNDTRIP_ORACLE,
    description="S5/S6-family JSONL interchange roundtrip: µs timestamps, full-precision doubles, escaped JSON strings",
)
def q_jsonl_roundtrip(spark, sf_dir):
    """Distributed JSONL export + schema-pinned read-back on one hash.
    The three classic JSONL loss modes are all on the hash: (a) Spark's
    default JSON timestampFormat truncates to millis — the explicit
    SSSSSS format keeps microseconds lossless (the CSV sink's r9
    lesson); (b) doubles ride Jackson's shortest-round-trip repr, so
    read-back is bit-exact; (c) ``props`` holds a JSON-ish string whose
    quotes must survive escape→unescape. Multi-part write (one file per
    partition), read back with the EXPLICIT schema — inference is the
    other classic JSONL corruption (longs→doubles) and pinning the
    schema is the contract a 100 TB ingest runs with."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    out = os.path.join(scratch_dir("h2ou_jsonl_"), "events_jsonl")
    (
        ev.write.mode("overwrite")
        .option("timestampFormat", _JSON_TS_FMT)
        .json(out)
    )
    return (
        spark.read.schema(ev.schema)
        .option("timestampFormat", _JSON_TS_FMT)
        .json(out)
    )


# -- partition-pruned layout ------------------------------------------------------------

PARTITIONED_PRUNE_ORACLE = f"""
SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE event_type IN ('click', 'view') AND value IS NOT NULL
GROUP BY 1, 2
"""


@query(
    "partitioned_sink_prune",
    oracle=PARTITIONED_PRUNE_ORACLE,
    description="Partitioned parquet sink + partition-pruned read-back (layout half of pushdown)",
)
def q_partitioned_sink_prune(spark, sf_dir):
    """The partition-pruned table layout — the layout half of predicate
    pushdown a 100 TB events store lives on: events written
    ``partitionBy(event_type)`` (each type its own directory; the value
    leaves the data file and moves into the path), read back with a
    partition filter so the scan LISTS ONLY the matching directories —
    other types' files are never opened, not merely skipped row-group
    by row-group (``tests/test_pushdown.py`` pins the PartitionFilters
    plan evidence). The daily rollup on the hash certifies the
    write→prune→read loop loses nothing: partition values round-trip
    (the column comes back from the path), timestamps keep micros, and
    the pruned scan returns exactly the two types' rows."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
    out = scratch_dir("h2ou_part_") + "/events_by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = read_parquet(spark, out)
    return (
        back.filter(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint")).alias(
                "total_cents"
            ),
        )
    )
