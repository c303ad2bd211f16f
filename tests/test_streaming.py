"""Structured Streaming tests: foreachBatch upserts into a TxTable, the
streaming dedup ingest, and the drain's shuffle-partition pin."""

from __future__ import annotations

from h2outility_spark.streaming import incremental


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


def test_stream_upsert_drains_itself_under_the_shuffle_pin(spark, tmp_path, monkeypatch):
    # no caller-side drain: the function returns a stopped query whose
    # progress survives, the merge already landed, and it ran under the
    # bounded-batch pin (defaultParallelism, not the session's 200)
    from h2outility_spark.storage_tx import TxTable

    src = str(tmp_path / "src")
    tdir = str(tmp_path / "txtable")
    schema = "k long, ts timestamp, v double"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-01 00:05:00", 2.0)],
        "k long, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v").write.parquet(src)

    seen = []
    merge = TxTable.merge_upsert

    def spy(self, df, *args, **kwargs):
        seen.append(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
        return merge(self, df, *args, **kwargs)

    monkeypatch.setattr(TxTable, "merge_upsert", spy)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        q = incremental.stream_upsert_to_txtable(stream, tdir, ["k"], "ts", str(tmp_path / "ckpt"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

    assert not q.isActive
    assert q.recentProgress
    table = TxTable(spark, tdir, key_cols=["k"])
    assert {r["k"]: r["v"] for r in table.snapshot().collect()} == {1: 1.0, 2: 2.0}
    assert seen == [spark.sparkContext.defaultParallelism]


def test_drop_and_drain_is_one_micro_batch_per_drop(spark):
    # the batch discipline the file-drop scenarios certify restored state
    # with: each drop drains as exactly one micro-batch, ids in drop order
    from h2outility_spark.workload_streaming import _drop_and_drain

    sizes = [3, 1, 4]
    drops = [
        spark.range(n).selectExpr("id AS k", f"{i} AS drop") for i, n in enumerate(sizes)
    ]
    seen = []

    def record(df, batch_id):
        seen.append((batch_id, df.count()))

    _drop_and_drain(drops, lambda s: s, record, "append")
    assert seen == [(0, 3), (1, 1), (2, 4)]


def test_only_drain_available_now_starts_or_drains_a_stream():
    # one drain: inside the package, `.writeStream` and
    # `processAllAvailable` are touched only by drain_available_now
    import ast
    import pathlib

    import h2outility_spark

    root = pathlib.Path(h2outility_spark.__file__).parent
    found = set()

    class Finder(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.scope = rel, ["<module>"]

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Attribute(self, node):
            if node.attr in {"writeStream", "processAllAvailable"}:
                found.add((self.rel, self.scope[-1], node.attr))
            self.generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        Finder(str(path.relative_to(root))).visit(ast.parse(path.read_text()))
    assert found == {
        ("streaming/incremental.py", "drain_available_now", "writeStream"),
        ("streaming/incremental.py", "drain_available_now", "processAllAvailable"),
    }
