"""Tests for the op-list plan compiler, CSV/XML sinks, mutation surface,
and multimodal binary plumbing (with deterministic decode/resize
stand-ins, so no real codec is needed)."""

from __future__ import annotations

import hashlib
import json
import os
import sys
from datetime import datetime, timedelta

from pyspark import cloudpickle
from pyspark.sql import DataFrame, Row, functions as F

from h2outility_spark.operators import multimodal, mutation
from h2outility_spark.plans import oplist
from h2outility_spark.sinks import csv_sink, xml_metadata
from h2outility_spark.operators.catalog import derive_catalog

T0 = datetime(2024, 1, 1)

# The stand-in codecs below run inside Python workers, which cannot import
# this test module by name: ship its functions by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def tiny_series(spark):
    rows = [
        Row(sid=1, vid=1, ts=T0 + timedelta(hours=i), value=v, value_id=i)
        for i, v in enumerate([10.0, 200.0, 200.0, 10.0, 10.0])
    ]
    return spark.createDataFrame(rows)


def binarize_text_fixture(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a multimodal asset fixture from the documents table (UTF-8
    payload bytes + mime + meta) — the fixtures hold no image data, so
    tests exercise the binary plumbing with text payloads."""
    return docs.select(
        F.col(id_col).alias("asset_id"),
        F.encode(F.col(text_col), "UTF-8").alias("data"),
        F.lit("text/plain").alias("mime"),
        F.create_map(F.lit("origin"), F.lit("documents")).alias("meta"),
    )


def deterministic_fake_decoder(data: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for an image decode: derives (width, height,
    mean_luma) from the payload's sha1 so tests are reproducible. NOT a real
    decoder — replace with PIL/turbojpeg on a real cluster."""
    h = hashlib.sha1(data or b"").digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    mean_luma = round(h[2] / 255.0, 6)
    return width, height, mean_luma


def deterministic_fake_resizer(data: bytes, max_side: int) -> tuple[bytes, int, int]:
    """Deterministic resize stand-in: derives source dims like the fake
    decoder, scales them to fit ``max_side``, and emits a payload digest as
    the 'resized bytes'. Replace with PIL ``Image.thumbnail`` on a real
    cluster."""
    w, h, _ = deterministic_fake_decoder(data)
    scale = min(1.0, max_side / max(w, h))
    out_w, out_h = max(1, int(w * scale)), max(1, int(h * scale))
    payload = hashlib.sha1((data or b"") + f"{out_w}x{out_h}".encode()).digest()
    return payload, out_w, out_h


def test_plan_compile_and_replay(spark, tmp_path):
    plan = [
        {"op": "select_value_threshold", "args": {"op": ">", "threshold": 100.0}},
        {"op": "change_value", "args": {"op": "-", "operand": 50.0}},
        {"op": "flag_selected", "args": {"qualifier_id": 4, "qual_col": "qual"}},
    ]
    path = str(tmp_path / "plan.json")
    oplist.save_plan(plan, path)
    loaded = oplist.load_plan(path)
    out = oplist.apply_plan(tiny_series(spark), loaded, keys=["sid", "vid"], ts="ts", value="value")
    rows = out.orderBy("value_id").collect()
    assert [r["value"] for r in rows] == [10.0, 150.0, 150.0, 10.0, 10.0]
    assert [r["qual"] for r in rows] == [None, 4, 4, None, None]


def test_plan_rejects_unknown_op(spark):
    try:
        oplist.apply_plan(tiny_series(spark), [{"op": "rm_rf"}], keys=["sid"])
        raise AssertionError("should have raised")
    except ValueError as e:
        assert "rm_rf" in str(e)


def test_annotated_csv_roundtrip(spark, tmp_path):
    # the append path orders by (SiteID, obs_date): the export's chunk columns
    df = tiny_series(spark).select(F.col("sid").alias("SiteID"), F.col("ts").alias("obs_date"), "value")
    header = csv_sink.build_annotated_header(
        site={"SiteCode": "S1"},
        variables=[{"VariableCode": "temp", "NoDataValue": -9999.0}],
        qc_level={"Code": "0"},
    )
    path = str(tmp_path / csv_sink.chunk_file_name("S1", "temp", "src", "0", 2024))
    csv_sink.write_annotated_csv(df, path, header, order_by=["obs_date"])
    lines = open(path).read().splitlines()
    assert lines[0].startswith("# Generated by")
    assert any("NoDataValue=-9999" in ln for ln in lines)
    assert sum(1 for ln in lines if not ln.startswith("#")) == 6  # header row + 5 data

    # S6 append + S10 watermark read-back
    extra = spark.createDataFrame([Row(SiteID=1, obs_date=T0 + timedelta(hours=9), value=1.0)])
    csv_sink.append_csv(extra, path)
    wm = csv_sink.read_csv_watermark(spark, path, "obs_date")
    assert wm == T0 + timedelta(hours=9)


def test_flag_gated_row_export(spark, tmp_path):
    dv = tiny_series(spark).select(
        F.col("ts").alias("LocalDateTime"),
        F.col("value").alias("DataValue"),
        (F.col("ts") + F.expr("INTERVAL 7 HOURS")).alias("DateTimeUTC"),
        F.col("sid").alias("SiteID"),
    )
    out = str(tmp_path / "rows")
    csv_sink.export_series_rows(dv.coalesce(1), out, utc=True, site=True)
    part = [f for f in os.listdir(out) if f.startswith("part-")][0]
    head = open(os.path.join(out, part)).readline().strip()
    assert head == "LocalDateTime,DataValue,DateTimeUTC,SiteID"


def test_xml_metadata_export(spark, tmp_path):
    dv = tiny_series(spark).select(
        F.col("sid").alias("SiteID"), F.col("vid").alias("VariableID"),
        F.lit(1).alias("MethodID"), F.lit(1).alias("SourceID"),
        F.lit(0).alias("QualityControlLevelID"),
        F.col("ts").alias("LocalDateTime"), F.col("value").alias("DataValue"),
    )
    catalog = derive_catalog(dv)
    path = str(tmp_path / "meta.xml")
    xml_metadata.export_series_metadata(catalog, path)
    content = open(path).read()
    assert "<Series>" in content and "<ValueCount>5</ValueCount>" in content


def test_upsert_newest_wins(spark):
    target = spark.createDataFrame([Row(k=1, v="old", ver=1), Row(k=2, v="keep", ver=1)])
    updates = spark.createDataFrame([Row(k=1, v="new", ver=2), Row(k=3, v="ins", ver=1)])
    out = mutation.upsert(target, updates, keys=["k"])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_delete_and_dedup(spark):
    dup = spark.createDataFrame([Row(event_id=1, value=1.0)] * 3 + [Row(event_id=2, value=1.0)])
    assert mutation.drop_logical_duplicates(dup).count() == 2


def test_multimodal_feature_extraction(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="hello world"), Row(doc_id=2, text="")])
    assets = binarize_text_fixture(docs)
    feats = multimodal.extract_image_features(assets, decode_fn=deterministic_fake_decoder)
    rows = {r["asset_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] == 11
    assert len(rows[1]["sha1"]) == 40
    assert 64 <= rows[1]["width"] < 256 and 0.0 <= rows[1]["mean_luma"] <= 1.0
    # decode stub contract: without a decoder the operator raises at the decode site
    try:
        multimodal.extract_image_features(assets).collect()
        raise AssertionError("should have raised")
    except Exception as e:
        assert "NotImplementedError" in type(e).__name__ or "decode" in str(e)


def test_frame_sample_plan(spark):
    assets = spark.createDataFrame(
        [Row(asset_id=1, data=bytearray(b"x"), mime="video/mp4", meta={"n_frames": "95"})]
    )
    plan = multimodal.frame_sample_plan(assets)
    assert [r["frame_index"] for r in plan.collect()] == [0, 30, 60, 90]


def test_resize_images(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="hello world"), Row(doc_id=2, text="y" * 500)])
    assets = binarize_text_fixture(docs)
    out = {r["asset_id"]: r for r in multimodal.resize_images(
        assets, max_side=100, resize_fn=deterministic_fake_resizer
    ).collect()}
    for r in out.values():
        assert max(r["width"], r["height"]) <= 100
        assert r["width"] >= 1 and r["height"] >= 1
        assert isinstance(bytes(r["data"]), bytes) and len(r["data"]) == 20  # sha1 payload stub
    # deterministic: same inputs, same resized dims
    again = {r["asset_id"]: r for r in multimodal.resize_images(
        assets, max_side=100, resize_fn=deterministic_fake_resizer
    ).collect()}
    assert {k: (v["width"], v["height"]) for k, v in out.items()} == {
        k: (v["width"], v["height"]) for k, v in again.items()
    }
    # stub contract: no codec -> raises at the resize site
    try:
        multimodal.resize_images(assets).collect()
        raise AssertionError("should have raised")
    except Exception as e:
        assert "NotImplementedError" in type(e).__name__ or "resize" in str(e)


def test_audio_chunk_plan(spark):
    assets = spark.createDataFrame(
        [
            (1, None, "audio/wav", {"duration_ms": "5000"}),
            (2, None, "audio/wav", {}),
        ],
        "asset_id long, data binary, mime string, meta map<string,string>",
    )
    plan = multimodal.audio_chunk_plan(assets)
    got = {}
    for r in plan.collect():
        got.setdefault(r["asset_id"], []).append(r["chunk_start_ms"])
    assert got[1] == [0, 2_000, 4_000]
    assert got[2] == [0]  # zero-duration degenerates to one chunk at 0


def test_image_dhash_string_asset_ids(spark):
    """Review regression: asset ids are often strings (URLs, content
    hashes) — the dhash schema must follow the input id type instead of
    hardcoding long."""
    from pyspark.sql import Row

    from h2outility_spark.codecs import encode_bmp
    from h2outility_spark.operators.multimodal import image_dhash

    rows = [[(x * 14, x * 14, x * 14) for x in range(18)]] * 16
    img = bytearray(encode_bmp(rows))
    assets = spark.createDataFrame(
        [Row(asset_id="s3://bucket/a.bmp", data=img), Row(asset_id="s3://bucket/b.bmp", data=None)]
    )
    out = image_dhash(assets)
    assert out.schema["asset_id"].dataType.simpleString() == "string"
    got = {r["asset_id"]: r["dhash"] for r in out.collect()}
    assert got["s3://bucket/b.bmp"] is None
    assert isinstance(got["s3://bucket/a.bmp"], int)


def test_fanout_null_chunk_key_cannot_collide_with_none_string(spark, tmp_path):
    """A NULL chunk group and a literal 'None' string group must land in
    DISTINCT files (the NULL key uses the reserved '%00null' spelling,
    which percent-encoding can never emit for a real value), with every
    row accounted for."""
    out = str(tmp_path / "fanout")
    df = spark.createDataFrame(
        [Row(site=None, v=1.0), Row(site="None", v=2.0), Row(site="a/b", v=3.0)],
        "site string, v double",
    )
    summary = csv_sink.write_annotated_chunks_distributed(
        df, out, chunk_col="site", order_by=["v"]
    )
    paths = sorted(r["path"] for r in summary.collect())
    assert len(paths) == len(set(paths)) == 3
    names = {os.path.basename(p) for p in paths}
    assert "site=%00null.csv" in names
    assert "site=None.csv" in names
    assert "site=a%2Fb.csv" in names  # the '/' never escapes the out dir
    total_rows = 0
    for p in paths:
        body = [ln for ln in open(p).read().splitlines() if ln and not ln.startswith("#")]
        total_rows += len(body) - 1  # minus the column-header row
    assert total_rows == 3


def test_fanout_numeric_nan_and_null_chunks_fold_without_row_loss(spark, tmp_path):
    """For a FLOAT chunk column Spark groups NULL and NaN separately, but
    Arrow hands both to the pandas worker as NaN — before the ADVICE-r9
    fix the two groups raced os.replace on the same '%00null' file and one
    group's rows silently vanished. The sink now folds NaN into the NULL
    group pre-groupBy: exactly one missing-key file, all rows present."""
    out = str(tmp_path / "fanout_nan")
    df = spark.createDataFrame(
        [
            Row(bucket=None, v=1.0),
            Row(bucket=float("nan"), v=2.0),
            Row(bucket=7.5, v=3.0),
        ],
        "bucket double, v double",
    )
    summary = csv_sink.write_annotated_chunks_distributed(
        df, out, chunk_col="bucket", order_by=["v"]
    )
    paths = sorted(r["path"] for r in summary.collect())
    assert len(paths) == len(set(paths)) == 2
    names = {os.path.basename(p) for p in paths}
    assert "bucket=%00null.csv" in names
    null_file = next(p for p in paths if p.endswith("%00null.csv"))
    body = [ln for ln in open(null_file).read().splitlines() if ln and not ln.startswith("#")]
    assert len(body) - 1 == 2  # the NULL row AND the NaN row, neither overwritten
