"""Incremental (batch-vs-corpus) dedup: crafted cases for the exact and
near paths; corpus-level parity lives in test_oracle_parity via the
dedup_incremental registered query."""

from __future__ import annotations

from pyspark.sql import Row

from h2outility_spark.operators.dedup import incremental_neardup_filter


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_exact_duplicate_of_corpus_dropped(spark):
    existing = _docs(spark, [(1, "alpha beta gamma delta epsilon")])
    batch = _docs(
        spark,
        [
            (10, "  alpha   beta gamma delta epsilon "),  # normalized-exact dup
            (11, "totally different words here now"),
        ],
    )
    kept = {r["doc_id"] for r in incremental_neardup_filter(batch, existing).collect()}
    assert kept == {11}


def test_near_duplicate_of_corpus_dropped(spark):
    base = "one two three four five six seven eight nine ten"
    existing = _docs(spark, [(1, base)])
    batch = _docs(
        spark,
        [
            (10, base + " eleven"),  # high Jaccard with doc 1
            (11, "unrelated content entirely separate vocabulary set"),
        ],
    )
    kept = {r["doc_id"] for r in incremental_neardup_filter(batch, existing).collect()}
    assert kept == {11}


def test_batch_internal_duplicates_both_survive(spark):
    # Scope contract: the incremental filter only deduplicates AGAINST the
    # corpus — identical batch docs both pass (corpus-wide pipeline's job).
    existing = _docs(spark, [(1, "corpus words that do not collide")])
    dup = "same new document text repeated twice exactly"
    batch = _docs(spark, [(10, dup), (11, dup)])
    kept = {r["doc_id"] for r in incremental_neardup_filter(batch, existing).collect()}
    assert kept == {10, 11}


def test_duplicated_spans_hand_computed(spark):
    """One 16-token substring shared between two docs -> exactly one
    maximal span in each, at the right positions."""
    from h2outility_spark.operators.dedup import duplicated_spans

    shared = [f"s{i}" for i in range(16)]
    doc1 = shared + [f"a{i}" for i in range(4)]              # shared at 0..15
    doc2 = [f"b{i}" for i in range(5)] + shared + ["c0"]     # shared at 5..20
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(doc1)), Row(doc_id=2, text=" ".join(doc2))]
    )
    out = sorted(map(tuple, duplicated_spans(docs).collect()))
    assert out == [(1, 0, 16, 16), (2, 5, 21, 16)]


def test_duplicated_spans_merges_overlapping_windows(spark):
    """A 18-token shared substring yields 3 duplicated windows per doc that
    merge into ONE maximal 18-token span."""
    from h2outility_spark.operators.dedup import duplicated_spans

    shared = [f"s{i}" for i in range(18)]
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(shared + ["x"])),
            Row(doc_id=2, text=" ".join(["y"] + shared)),
        ]
    )
    out = sorted(map(tuple, duplicated_spans(docs).collect()))
    assert out == [(1, 0, 18, 18), (2, 1, 19, 18)]


def test_stream_ingest_leaves_no_persistent_rdd(spark, tmp_path):
    """Each micro-batch of the streaming ingest releases what it cached
    (the filter's survivors and the batch's novel docs) before returning."""
    from h2outility_spark.storage_tx import TxTable
    from h2outility_spark.streaming.incremental import stream_dedup_ingest

    src = str(tmp_path / "docs")
    # one file per batch; the second batch holds an exact duplicate of the
    # first, so it runs the corpus filter whichever file drains first
    for rows in (
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five six")],
        [(10, "alpha beta gamma delta epsilon"), (11, "unrelated words entirely")],
    ):
        _docs(spark, rows).coalesce(1).write.mode("append").parquet(src)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    stream = spark.readStream.schema("doc_id long, text string").option("maxFilesPerTrigger", 1).parquet(src)
    stream_dedup_ingest(stream, str(tmp_path / "corpus"), str(tmp_path / "ckpt"))

    table = TxTable(spark, str(tmp_path / "corpus"), key_cols=["doc_id"])
    assert [h["op"] for h in table.history()] == ["merge", "merge"]
    assert table.snapshot().count() == 3
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= before
