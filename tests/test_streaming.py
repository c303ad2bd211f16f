"""Structured Streaming smoke tests: AvailableNow drain of windowed counts,
session windows, and watermark dedup over a parquet-backed stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from h2outility_spark.sources.parquet import load_table
from h2outility_spark.streaming import incremental

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Events re-written with microsecond timestamps (streaming can't use
    the nanos-typed originals) into a streamable directory."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(d)
    return d


def test_available_now_windowed_counts(spark, stream_dir):
    schema = spark.read.parquet(stream_dir).schema
    stream = incremental.stream_events(spark, stream_dir, schema)
    assert stream.isStreaming
    agg = incremental.stream_windowed_counts(stream, window="1 hour", watermark="2 hours")
    rows = incremental.run_available_now(agg)
    assert len(rows) > 0
    # append mode emits only windows CLOSED by the final watermark
    # (max event time - 2h); later windows stay pending — exact-count that.
    ev = load_table(spark, SF_DIR, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    closed = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .filter(F.col("window.end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
        .count()
    )
    assert len(rows) == closed


def test_session_window_stream(spark, stream_dir):
    schema = spark.read.parquet(stream_dir).schema
    stream = incremental.stream_events(spark, stream_dir, schema)
    rows = incremental.run_available_now(incremental.stream_sessionized(stream, gap="6 hours"))
    assert rows and all(r["session_end"] > r["session_start"] for r in rows)


def test_stream_dedup_within_watermark(spark, stream_dir):
    schema = spark.read.parquet(stream_dir).schema
    stream = incremental.stream_events(spark, stream_dir, schema)
    deduped = incremental.stream_deduped_append(stream, keys=["user_id", "event_type"])
    rows = incremental.run_available_now(deduped)
    distinct = load_table(spark, SF_DIR, "events").select("user_id", "event_type").distinct().count()
    assert len(rows) == distinct


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """The stream-stream interval join must produce exactly the pairs the
    equivalent batch range join produces on the same (drained) data."""
    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def sides(df):
        purch = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("ts2")
        )
        return purch, clicks

    sp, sc = sides(incremental.stream_events(spark, src, schema))
    joined = incremental.stream_interval_join(
        sp, sc, key="user_id", band_seconds=3600, left_ts="ts", right_ts="ts2"
    ).select("purchase_id", "click_id")
    got = {(r["purchase_id"], r["click_id"]) for r in incremental.run_available_now(joined)}

    bp, bc = sides(ev)
    bc = bc.withColumnRenamed("user_id", "user_id2")
    expected = {
        (r["purchase_id"], r["click_id"])
        for r in bp.join(
            bc,
            (bp.user_id == bc.user_id2)
            & (F.abs(F.unix_micros(bp.ts) - F.unix_micros(bc.ts2)) <= 3600 * 1_000_000),
        )
        .select("purchase_id", "click_id")
        .collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_stream_upsert_to_txtable(spark, tmp_path):
    """foreachBatch upsert into the transactional table: atomic manifest
    commits per batch, with history recording one merge per micro-batch
    and within-batch newest-wins."""
    from h2outility_spark.storage_tx import TxTable

    src = str(tmp_path / "src")
    tdir = str(tmp_path / "txtable")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, ts timestamp, v double"

    first = spark.createDataFrame(
        # two versions of k=2 in ONE batch — newest (00:10) must win
        [(1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-01 00:05:00", -2.0), (2, "2024-01-01 00:10:00", 2.0)],
        "k long, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    first.write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).format("parquet").load(src)
    q = incremental.stream_upsert_to_txtable(stream, tdir, ["k"], "ts", ckpt)
    q.processAllAvailable(); q.stop(); q.awaitTermination(30)
    table = TxTable(spark, tdir, key_cols=["k"])
    got = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert got == {1: 1.0, 2: 2.0}

    second = spark.createDataFrame(
        [(2, "2024-01-01 01:00:00", 20.0), (3, "2024-01-01 01:05:00", 3.0)],
        "k long, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    second.write.mode("append").parquet(src)

    stream2 = spark.readStream.schema(schema).format("parquet").load(src)
    q2 = incremental.stream_upsert_to_txtable(stream2, tdir, ["k"], "ts", ckpt)
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination(30)
    got2 = {r["k"]: r["v"] for r in table.snapshot().collect()}
    assert got2 == {1: 1.0, 2: 20.0, 3: 3.0}
    assert table.snapshot().count() == 3
    ops = [h["op"] for h in table.history()]
    assert ops == ["merge", "merge"]
    # time travel: the first batch's state is still readable
    v0 = {r["k"]: r["v"] for r in table.snapshot(version=0).collect()}
    assert v0 == {1: 1.0, 2: 2.0}


def test_batch_incremental_append(spark):
    ev = load_table(spark, SF_DIR, "events")
    old = ev.filter(F.col("event_id") < 500)
    merged = incremental.incremental_append(ev, old, keys=["event_id"], ts_col="ts")
    # every event is either old or strictly newer than the old watermark
    wm = old.agg(F.max("ts")).collect()[0][0]
    expected = 500 + ev.filter(F.col("ts") > F.lit(wm)).count()
    assert merged.count() == expected


def test_stream_dedup_ingest(spark, tmp_path):
    """Streaming twin of dedup_incremental: two micro-batches of documents;
    each batch is deduped within itself (exact) and against the accumulated
    corpus (exact + near), only novel docs reach the TxTable; a full replay
    with a fresh checkpoint commits nothing new."""
    from h2outility_spark.storage_tx import TxTable

    src = str(tmp_path / "docs")
    tdir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    base = "one two three four five six seven eight nine ten"

    first = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "  alpha   beta gamma delta epsilon "),  # batch-internal exact dup of 1
            (3, base),
        ],
        schema,
    )
    first.write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    incremental.stream_dedup_ingest(stream, tdir, ckpt)

    table = TxTable(spark, tdir, key_cols=["doc_id"])
    assert {r["doc_id"] for r in table.snapshot().collect()} == {1, 3}

    second = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # exact dup of corpus doc 1
            (11, base + " eleven"),                  # near dup of corpus doc 3
            (12, "unrelated content entirely separate vocabulary set"),
        ],
        schema,
    )
    second.write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).format("parquet").load(src)
    incremental.stream_dedup_ingest(stream2, tdir, ckpt)

    assert {r["doc_id"] for r in table.snapshot().collect()} == {1, 3, 12}
    # one merge commit per batch that carried novel docs
    assert [h["op"] for h in table.history()] == ["merge", "merge"]

    # replay everything with a FRESH checkpoint: every doc is now an exact
    # duplicate of the corpus -> survivor set empty -> no new commit
    stream3 = spark.readStream.schema(schema).format("parquet").load(src)
    incremental.stream_dedup_ingest(stream3, tdir, str(tmp_path / "ckpt2"))
    assert {r["doc_id"] for r in table.snapshot().collect()} == {1, 3, 12}
    assert [h["op"] for h in table.history()] == ["merge", "merge"]


def test_stream_dedup_ingest_redelivery_and_null_text(spark, tmp_path):
    """Review regressions: (1) an at-least-once source redelivering the
    same doc twice in ONE batch must insert it once; (2) NULL-text docs
    are dropped by policy, not crashed on or silently half-handled."""
    from h2outility_spark.storage_tx import TxTable

    src = str(tmp_path / "docs")
    tdir = str(tmp_path / "corpus")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),  # exact redelivery, same batch
            (2, None),                               # null text: dropped by policy
            (3, "completely different content here"),
        ],
        schema,
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    incremental.stream_dedup_ingest(stream, tdir, str(tmp_path / "ckpt"))

    table = TxTable(spark, tdir, key_cols=["doc_id"])
    rows = table.snapshot().collect()
    assert {r["doc_id"] for r in rows} == {1, 3}
    assert len(rows) == 2  # doc 1 exactly once despite the redelivery


def test_micro_batch_shuffle_pins_and_restores(spark):
    # the drain-scope pin must set the bounded-batch partition count
    # (defaultParallelism) inside the context and restore the session value
    # after, including on error
    from h2outility_spark.streaming.incremental import micro_batch_shuffle

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        with micro_batch_shuffle(spark):
            pinned = int(spark.conf.get("spark.sql.shuffle.partitions"))
            assert pinned == spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"

        # restore-on-error
        try:
            with micro_batch_shuffle(spark):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
